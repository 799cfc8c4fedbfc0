"""Benchmark of the engine's public surface: one workload, one seed.

    python3 perfbench/run.py --workload taxi_sql --seed 1 --seconds 20

Run from the repository root. The run generates its inputs from
``--seed`` (``gen.py``), starts one session on ``local[<cores>]`` and
drives the workload's operations as one closed-loop client: each
operation starts when the previous one has finished. Untimed warm-up
passes come first; the first of them checks every operation's output
against its twin (the query's DuckDB ``oracle_sql()`` or, for
admission, a plain-Python replay of the door). Timed passes follow until
``--seconds`` have passed and at least ``MIN_PASSES`` passes have run.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` records spans and Spark's event log
and reports the per-layer metrics of ``spans.LAYERS``; its passes
alternate untraced and traced (ABBA order), and ``trace.overhead_s``
is the difference of their medians. The line before
it carries provenance (host, versions, commit, plan digest) and the
per-operation medians.

Everything the run writes lives under ``.perfbench_state/`` in the
working directory, wiped when a run starts: temp files, Spark local
dirs, the warehouse, the event log, persisted indexes and the
admission corpus.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import spans  # noqa: E402
from workloads import ADMIT, WORKLOADS, Admission  # noqa: E402

STATE_DIR = ".perfbench_state"
MIN_PASSES = 3
DRIVER_MEM = "2g"
#: task slots of the session (``local[2]``). The inputs are small, so
#: more slots add scheduling, not speed; two leave the other cores of a
#: four-core host to the JIT, the collector and the Python driver, so
#: the engine's own threads do not queue behind them
CORES = 2
#: a heap that starts at full size and is resident from the start (the
#: collector sizes its young generation by pause times, so how much of
#: the heap a run touched, and with it the resident-memory figure,
#: otherwise moved with the host's load: one run in ten read 15% low),
#: and the client compiler only: with the server compiler, CPU per pass
#: was still falling after a minute of passes (compilation running
#: alongside the timed work); with the client compiler at a lower
#: threshold it flattens within the warm-up passes
JAVA_OPTS = (f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
             "-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.05")
_CLK = os.sysconf("SC_CLK_TCK")


def _log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - _T0:7.2f}s {msg}",
          file=sys.stderr, flush=True)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(root: str) -> dict[str, str]:
    """Fresh run-state directories, and the environment that points
    the engine, Spark, the JVM and the Python workers at them."""
    state = os.path.join(root, STATE_DIR)
    shutil.rmtree(state, ignore_errors=True)
    dirs = {k: os.path.join(state, k) for k in
            ("tmp", "local", "warehouse", "events", "inputs", "work")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} "
                          "-XX:-UsePerfData",
    )
    tempfile.tempdir = None
    return dirs


# --- process tree (/proc) --------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rfind(")") + 2:].split()  # fields 3.. of proc(5)


def _alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and every descendant,
    including descendants that already exited and were reaped."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _CLK


def host_steal_s() -> float:
    """CPU seconds the hypervisor took from this machine's CPUs since
    boot (0 on bare metal): a measure of interference from other
    machines sharing the host."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid() -> int:
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    raise RuntimeError("no JVM child process found")


# --- the run -----------------------------------------------------------

def _load_tool(root: str, name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _git_commit(root: str) -> str | None:
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        except OSError:
            with open(os.path.join(git, "packed-refs")) as f:
                for line in f:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
    except OSError:
        pass
    return None


def tail_latency(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has ten
    samples beyond it: the eleventh-largest sample."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        raise ValueError(f"{n} samples: a tail needs more than ten")
    return s[n - 11], 100.0 * (n - 10) / n


class Bench:
    def __init__(self, args, root: str, dirs: dict[str, str],
                 sf_dir: str):
        self.wl = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.root = root
        self.dirs = dirs
        self.sf_dir = sf_dir
        self.tracer = spans.Tracer(bool(args.trace))
        self.spark = None
        self.adm: Admission | None = None

    # one operation / one pass

    def _span(self, traced: bool, *a, **kw):
        return self.tracer.span(*a, **kw) if traced else nullcontext()

    def _group(self, traced: bool, group: str | None, phase: str | None):
        if traced:
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", group)
            sc.setLocalProperty("spark.job.description", phase)

    def run_op(self, op: str, pass_no: int, traced: bool,
               parent: int | None) -> None:
        group = f"{self.wl.name}:{op}:{pass_no}"
        with self._span(traced, "op", parent, group=group, op=op) as sid:
            if op.startswith(ADMIT):
                self._group(traced, group, "epoch")
                with self._span(traced, "epoch", sid):
                    self.adm.run_epoch(int(op.split(":")[1]))
                return
            self._group(traced, group, "build")
            with self._span(traced, "build", sid):
                df = self.queries[op](self.spark, self.sf_dir)
            if traced:
                self._group(traced, group, "plan")
                with self._span(traced, "plan", sid):
                    df._jdf.queryExecution().executedPlan()  # noqa: SLF001
                self._group(traced, group, "exec")
            with self._span(traced, "exec", sid):
                df.write.format("noop").mode("overwrite").save()

    def run_pass(self, pass_no: int, traced: bool = False,
                 parent: int | None = None):
        """One pass; returns (wall seconds, CPU seconds,
        [(op, seconds, ok)])."""
        ops = self.wl.pass_ops(self.seed, pass_no)
        if self.adm is not None:
            self.adm.reset()
        out = []
        with self._span(traced, "pass", parent, **{"pass": pass_no}) as ps:
            cpu0 = tree_cpu_s()
            t_pass = time.perf_counter()
            for op in ops:
                t = time.perf_counter()
                try:
                    self.run_op(op, pass_no, traced, ps)
                    ok = True
                except Exception:  # noqa: BLE001 — counted as failed
                    traceback.print_exc(file=sys.stderr)
                    ok = False
                out.append((op, time.perf_counter() - t, ok))
            wall = time.perf_counter() - t_pass
            cpu = tree_cpu_s() - cpu0
        self._group(traced, None, None)
        return wall, cpu, out

    def admission_state(self) -> dict[str, float]:
        """Files, MB and rows the admission door left on disk."""
        import pyarrow.parquet as pq

        files, size, rows = 0, 0, 0
        for dp, _, fs in os.walk(self.adm.corpus_dir):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(dp, f)
                    files += 1
                    size += os.path.getsize(p)
                    rows += pq.ParquetFile(p).metadata.num_rows
        return {"sinks.files_written": files, "sinks.write_mb": size / 1e6,
                "streaming.admit_ratio": rows / self.adm.offered}

    # phases

    def setup(self) -> dict[str, float]:
        from nyctaxidatapipeline_spark import get_spark
        from nyctaxidatapipeline_spark.sources import TABLES, load_table

        import __spark_entry__ as entry

        self.entry = entry
        self.queries = entry.queries()
        t = time.perf_counter()
        conf = {"spark.sql.warehouse.dir": self.dirs["warehouse"],
                "spark.local.dir": self.dirs["local"],
                "spark.driver.defaultJavaOptions": JAVA_OPTS}
        if self.tracer.enabled:
            # one plain JSON-lines file, read after the session stops
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.dirs["events"],
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false"})
        self.spark = get_spark("perfbench", extra_conf=conf)
        session_s = time.perf_counter() - t
        _log(f"session started in {session_s:.2f}s")
        traced = self.tracer.enabled
        self._group(traced, "setup:load", "load")
        t = time.perf_counter()
        for name in TABLES:
            load_table(self.spark, self.sf_dir, name).count()
        load_s = time.perf_counter() - t
        self._group(traced, None, None)
        _log(f"tables loaded in {load_s:.2f}s")
        if self.wl.admit_epochs:
            self.adm = Admission(self.spark, self.sf_dir, self.dirs["work"],
                                 self.wl.admit_epochs, self.seed)
        return {"session.start_s": session_s, "sources.load_s": load_s}

    def warm_up(self) -> None:
        n = self.wl.warmup_passes
        for w in range(n):
            wall, cpu, _ = self.run_pass(w - n)
            _log(f"warm-up pass {w + 1}: {wall:.2f}s, {cpu:.2f} CPU s")

    def timed(self) -> dict:
        """Timed passes; each is a dict of ``traced``, ``wall``,
        ``cpu``, ``steal`` (seconds) and ``ops`` (as ``run_pass``)."""
        tr = self.tracer
        passes: list[dict] = []
        extra: dict[int, dict[str, float]] = {}
        t0 = time.perf_counter()
        with self._span(tr.enabled, "run", None) as run_sid:
            while (len(passes) < MIN_PASSES
                   or time.perf_counter() - t0 < self.seconds):
                n = len(passes)
                # traced and untraced passes in ABBA order, so drift
                # within the run does not bias the overhead figure
                traced = tr.enabled and n % 4 in (1, 2)
                steal0 = host_steal_s()
                wall, cpu, ops = self.run_pass(n, traced, run_sid)
                passes.append({"traced": traced, "wall": wall, "cpu": cpu,
                               "steal": host_steal_s() - steal0,
                               "ops": ops})
                _log(f"pass {n}{' (traced)' if traced else ''}: "
                     f"{wall:.2f}s, {cpu:.2f} CPU s")
                if traced and self.adm is not None:
                    extra[n] = self.admission_state()
        rss = {"jvm": peak_rss_mb(jvm_pid()),
               "driver": peak_rss_mb(os.getpid())}
        return {"passes": passes, "extra": extra, "rss": rss}

    def check(self) -> tuple[dict[str, bool], dict[str, str], float]:
        """The warm-up pass: every operation once, its output checked
        against its twin. Returns the verdicts, the queries' plan
        fingerprints, and the seconds spent on the twins' side (DuckDB,
        the comparison, the admission replay), which set-up excludes."""
        from nyctaxidatapipeline_spark.sources import TABLES

        t = time.perf_counter()
        import duckdb

        cc = _load_tool(self.root, "check_correctness")
        pf = _load_tool(self.root, "plan_fingerprints")
        oracles = self.entry.oracle_sql()
        ok: dict[str, bool] = {}
        fps: dict[str, str] = {}
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.dirs['tmp']}'")
        for name in TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{name}.parquet')")
        twin_s = time.perf_counter() - t
        for q in self.wl.queries:
            try:
                df = self.queries[q](self.spark, self.sf_dir)
                fps[q] = pf.fingerprint_df(df)[0]
                got = df.toArrow()
                t = time.perf_counter()
                want = con.execute(oracles[q]).fetch_arrow_table()
                ok[q] = same_result(cc, got, want)
                twin_s += time.perf_counter() - t
            except Exception:  # noqa: BLE001 — a failed check
                traceback.print_exc(file=sys.stderr)
                ok[q] = False
        con.close()
        if self.adm is not None:
            self.adm.reset()
            try:
                for e in range(self.wl.admit_epochs):
                    self.adm.run_epoch(e)
                t = time.perf_counter()
                ok[ADMIT] = (self.adm.admitted_ids(self.spark)
                             == self.adm.twin_ids())
                twin_s += time.perf_counter() - t
            except Exception:  # noqa: BLE001 — a failed check
                traceback.print_exc(file=sys.stderr)
                ok[ADMIT] = False
        for op, good in ok.items():
            if not good:
                print(f"perfbench: {op} does not match its twin",
                      file=sys.stderr)
        return ok, fps, twin_s

    def provenance(self, fps: dict[str, str]) -> dict:
        with open("/proc/meminfo") as f:
            mem_kb = int(f.readline().split()[1])
        digest = hashlib.sha256("".join(
            f"{q}:{h}\n" for q, h in sorted(fps.items())).encode())
        jvm = self.spark._jvm  # noqa: SLF001
        return {
            "cores": host_cores(), "ram_gb": round(mem_kb / 2**20, 1),
            "task_slots": CORES, "driver_mem": DRIVER_MEM,
            "java_opts": JAVA_OPTS,
            "java": jvm.System.getProperty("java.version"),
            "spark": self.spark.version, "python": sys.version.split()[0],
            "commit": _git_commit(self.root),
            "plan_digest": digest.hexdigest(),
        }

    def close(self) -> None:
        """Stop the session, the JVM and every process under this one,
        and wait for each to end."""
        tree = descendants(os.getpid())
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway  # noqa: SLF001
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                SparkContext._gateway = SparkContext._jvm = None  # noqa
                if proc is not None:
                    try:
                        proc.stdin.close()
                        proc.wait(timeout=20)
                    except Exception:  # noqa: BLE001 — killed below
                        proc.kill()
                        proc.wait()
        # the Python workers outlive the JVM briefly, re-parented away
        # from this process, so wait on the tree as it was
        deadline = time.monotonic() + 20
        while (left := [p for p in tree if _alive(p)]):
            if time.monotonic() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.1)


def same_result(cc, got, want) -> bool:
    """``tools/check_correctness.py``'s comparison: row count, arrow
    schema, order-insensitive exact values, float sign bits."""
    import pandas as pd

    if got.num_rows != want.num_rows:
        return False
    if ({f.name: str(f.type) for f in got.schema}
            != {f.name: str(f.type) for f in want.schema}):
        return False
    a, b = cc.normalize(got.to_pandas()), cc.normalize(want.to_pandas())
    try:
        pd.testing.assert_frame_equal(a, b, check_exact=True)
    except AssertionError:
        return False
    return not cc.signbit_mismatches(a, b)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root,
                                           "nyctaxidatapipeline_spark"))):
        print("perfbench: run from the repository root; the engine "
              "sources are not in the working directory", file=sys.stderr)
        return 2
    dirs = isolate(root)
    t = time.perf_counter()
    sf_dir = gen.write(args.seed, dirs["inputs"])
    gen_s = time.perf_counter() - t
    sys.path.insert(0, root)

    bench = Bench(args, root, dirs, sf_dir)
    try:
        setup = bench.setup()
        ok, fps, twin_s = bench.check()
        _log(f"warm-up pass checked ({twin_s:.2f}s on the twins)")
        bench.warm_up()
        # set-up: process start to the first timed pass, less the
        # benchmark's own input generation and twins
        setup_s = time.perf_counter() - _T0 - gen_s - twin_s
        res = bench.timed()
        prov = bench.provenance(fps)
    finally:
        bench.close()
        _log("stopped")

    samples, attempted, failed = [], 0, 0
    per_op: dict[str, list[float]] = {}
    passes = res["passes"]
    for p in passes:
        for op, dt, op_ok in p["ops"]:
            attempted += 1
            unit = op.split(":")[0]
            if not (op_ok and ok.get(unit, False)):
                failed += 1
            elif not p["traced"]:
                samples.append(dt)
                per_op.setdefault(op, []).append(dt)
    untraced = [p for p in passes if not p["traced"]]
    walls = [p["wall"] for p in untraced]
    detail = {
        "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "passes": len(passes),
        "warmup_passes": 1 + bench.wl.warmup_passes,
        "op_samples": len(samples),
        "op_median_s": {k: statistics.median(v)
                        for k, v in sorted(per_op.items())},
        "pass_walls_s": [p["wall"] for p in passes],
        "pass_cpu_s": [p["cpu"] for p in passes],
        "pass_steal_s": [p["steal"] for p in passes],
        "peak_rss_mb": res["rss"], "checks": ok, "provenance": prov,
    }
    if args.trace:
        tr = bench.tracer
        tr.write(os.path.join(dirs["work"], "spans.json"))
        jobs, stages = spans.read_event_log(
            spans.find_event_log(dirs["events"]))
        setup_layers = dict(setup)
        setup_layers["sources.input_mb"] = spans.input_mb(
            jobs, stages, "setup:load")
        layers = spans.layer_metrics(tr, jobs, stages, setup_layers,
                                     res["extra"])
        traced_walls = [p["wall"] for p in passes if p["traced"]]
        layers["trace.overhead_s"] = (statistics.median(traced_walls)
                                      - statistics.median(walls))
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, (u, _) in spans.LAYERS.items()}
    else:
        # wall-clock latencies, reported here but not as metrics: on a
        # shared virtual machine they move with the load of other
        # tenants by more than any usable bound (README.md)
        tail, detail["op_tail_pct"] = tail_latency(samples)
        detail.update(pass_s=statistics.median(walls),
                      op_p50_s=statistics.median(samples), op_tail_s=tail)
        metrics = {
            "setup_s": (setup_s, "s"),
            "cpu_s": (statistics.median(p["cpu"] for p in untraced), "s"),
            "peak_rss_mb": (sum(res["rss"].values()), "MB"),
        }
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in metrics.items()}
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
