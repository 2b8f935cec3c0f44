"""The repository's benchmark: one seeded workload, run as a closed loop
with one client on ``local[nproc]``, printing every metric by name.

    python3 perfbench/run.py --workload dbt_project --seed 1 --seconds 1 --trace 0

Run it from the repository root.  It generates the workload's inputs
from the seed (in a child process, together with every operation's
expected result), starts a session, runs one cold pass and then steady
passes until ``--seconds`` of pass time are spent.  A pass runs the
workload's operation mix once, each operation starting when the
previous one finished.  Every result is checked outside the timed
region.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` splits the steady time between untraced and traced passes
and reports the per-layer metrics, including the tracing overhead.  The
last stdout line is one JSON object: correct, attempted, failed,
metrics.  A report with input sizes, host conditions, gate shapes and
per-operation numbers goes to the line before it and, with the spans,
to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# below any host's RAM; the heap grows with GC timing up to this cap, so
# a larger one spreads the peak resident memory from run to run (2g:
# 1.3-2.0 GB over ten seeds of lake_rw; 1g: 1.2-1.4 GB)
DRIVER_MEM = "1g"
# a run never outlives this many seconds of wall time: steady passes
# stop early rather than overrun
RUN_WALL_CAP_S = 150.0
# Hypervisor steal arrives in bursts that can double a pass's wall time.
# While such passes are not a minority, up to MAX_EXTRA_PASSES more passes
# run, so the reported median is an undisturbed pass when the burst is
# short.  Every pass counts in the median; none is dropped or corrected.
STEAL_RESAMPLE_PCT = 5.0
MAX_EXTRA_PASSES = 2
# ...and only while the run has spent less than this much wall time, so
# that the runs of every workload together keep to their time budget
EXTRA_PASS_WALL_S = 60.0


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


# ------------------------------------------------------------ host probes


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _reap(pids: list[int], grace_s: float = 10.0) -> None:
    """Wait until every process in ``pids`` has ended: give them
    ``grace_s`` to exit on their own, then SIGTERM, then SIGKILL."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        live = [p for p in pids if _alive(p)]
        if not live:
            return
        if sig is not None:
            for p in live:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
        end = time.monotonic() + wait_s
        while time.monotonic() < end and any(_alive(p) for p in live):
            try:  # a direct child must be reaped to stop being a zombie
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            time.sleep(0.05)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched and every
    process it started (Python workers), and wait until all have ended.
    Left alone, the JVM only notices its parent's exit some time after
    this process is gone."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        kids = sorted(set(kids) | set(_descendants(proc.pid) if proc is not None else []))
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _reap(kids)


class Meter:
    """CPU seconds of the JVM, this process and the JVM's Python
    workers (utime+stime, which hypervisor steal does not advance), and
    the resident-memory peak of the same processes."""

    def __init__(self, jvm_pid: int, proc_cpu_s):
        self.jvm = jvm_pid
        self.proc_cpu_s = proc_cpu_s
        self.worker_rss_peak_kb = 0

    def cpu(self) -> tuple[float, dict[int, float]]:
        workers = {}
        for pid in _descendants(self.jvm):
            c = self.proc_cpu_s(pid)
            if c is not None:
                workers[pid] = c
        rss = sum(_status_kb(p, "VmRSS") for p in workers)
        self.worker_rss_peak_kb = max(self.worker_rss_peak_kb, rss)
        return (self.proc_cpu_s(self.jvm) or 0.0) + time.process_time(), workers

    @staticmethod
    def delta(a, b) -> float:
        (base0, w0), (base1, w1) = a, b
        return (base1 - base0) + sum(c - w0.get(pid, 0.0) for pid, c in w1.items())

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak resident MB: the JVM's and this process's high-water
        marks plus the largest sampled sum over Python workers."""
        parts = {
            "jvm": _status_kb(self.jvm, "VmHWM") / 1024.0,
            "driver": _status_kb(os.getpid(), "VmHWM") / 1024.0,
            "workers": self.worker_rss_peak_kb / 1024.0,
        }
        parts["total"] = sum(parts.values())
        return parts


def _host_stamp(cpus: str, mem: str) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "load_avg_1m": round(os.getloadavg()[0], 2),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


# --------------------------------------------------------------- the loop


class Runner:
    def __init__(self, spark, workload: str, inputs: str, prepared: dict, meter: Meter,
                 cpu_sample):
        from perfbench import workloads

        self.W = workloads
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.inputs = inputs
        self.expected = prepared["expected"]
        self.meter = meter
        self.cpu_sample = cpu_sample  # (steal_ticks, total_ticks) of the host
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracer = None
        self.store = None
        self.pass_no = 0
        if workload == "lake_rw":
            self.lake = workloads.lake_params(os.path.join(inputs, "batches"))
            self.written_parquet_bytes = sum(
                os.path.getsize(os.path.join(inputs, "batches", f"{n}.parquet"))
                for n in ("orders", "merge_src", "lineitem")
            )

    def _ops(self):
        if self.workload != "lake_rw":
            return self.W.ops_for(self.workload, self.inputs), None
        pass_dir = os.path.join(self.inputs, f"lake_pass_{self.pass_no}")
        lp = self.W.LakePass(os.path.join(self.inputs, "batches"), pass_dir, self.lake)
        return lp.ops(), pass_dir

    def _check(self, op, result) -> tuple[bool, dict]:
        want = self.expected.get(op.name)
        if op.summarize is not None:
            got = op.summarize(result)
        else:
            got = self.W.digest(result[0], result[1])
        return got == want, got

    def run_op(self, op) -> dict:
        rec = {"op": op.name, "family": op.family}
        self.sc.setJobGroup(op.name, op.name)
        tr = self.tracer
        span = tr.begin(op.name, "op") if tr else None
        c0 = self.meter.cpu()
        t0 = time.perf_counter()
        df = None
        try:
            if tr:
                b = tr.begin("build", op.family)
            try:
                out = op.build(self.spark)
            finally:
                if tr:
                    tr.end(b)
            t1 = time.perf_counter()
            if op.summarize is None:
                df = out
                if tr:
                    a = tr.begin("collect", "spark.action")
                try:
                    rows = df.collect()
                finally:
                    if tr:
                        tr.end(a)
                result = (df.columns, rows)
            else:
                result = out
            t2 = time.perf_counter()
            c1 = self.meter.cpu()
            rec.update(ok=True, build_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0,
                       cpu_s=Meter.delta(c0, c1))
        except Exception as e:  # noqa: BLE001 — counted, reported, never fatal
            t2 = time.perf_counter()
            rec.update(ok=False, error=f"{type(e).__name__}: {str(e)[:300]}",
                       wall_s=t2 - t0, build_s=t2 - t0, action_s=0.0,
                       cpu_s=Meter.delta(c0, self.meter.cpu()))
        if tr:
            tr.end(span)
        self.sc.setJobGroup("perfbench-idle", "between operations")
        self.attempted += 1
        if rec["ok"]:
            good, got = self._check(op, result)
            rec["result"] = got
            if not good:
                rec["ok"] = False
                rec["error"] = f"wrong result: got {got}, want {self.expected.get(op.name)}"
        if not rec["ok"]:
            self.failed += 1
            self.failures.append(f"{op.name}: {rec['error']}")
        if self.store is not None:
            rec["engine"] = self.store.read(op.name, scans=op.family == "plans.dbt")
            if df is not None and op.family == "plans.dbt":
                from perfbench.trace import plan_scan_bytes

                rec["plan_scan_bytes"] = plan_scan_bytes(df)
            if df is not None and op.family == "lake":
                rec["files_kept"] = len(df.inputFiles())
        return rec

    def run_pass(self) -> dict:
        ops, pass_dir = self._ops()
        span0 = len(self.tracer.spans) if self.tracer else 0
        h0 = self.cpu_sample()
        recs = [self.run_op(op) for op in ops]
        h1 = self.cpu_sample()
        p = {
            "wall_s": sum(r["wall_s"] for r in recs),
            "cpu_s": sum(r["cpu_s"] for r in recs),
            "steal_pct": (100.0 * (h1[0] - h0[0]) / (h1[1] - h0[1])
                          if h0 and h1 and h1[1] > h0[1] else 0.0),
            "ops": recs,
        }
        if self.tracer:
            p["spans"] = (span0, len(self.tracer.spans))
        if pass_dir is not None:
            p["lake"] = self._lake_files(pass_dir)
            if self.store is not None:
                p["lake"]["files_total"] = self._lake_live_files(pass_dir)
                # any job the listing ran belongs to no operation
                self.store.read("perfbench-idle")
            shutil.rmtree(pass_dir, ignore_errors=True)
        self.pass_no += 1
        return p

    def _lake_files(self, pass_dir: str) -> dict:
        def walk(root: str, data_only: bool) -> tuple[int, int]:
            n = size = 0
            for d, _dirs, files in os.walk(root):
                rel = os.path.relpath(d, root)
                if data_only and (rel.startswith("_delta_log") or rel.startswith("metadata")):
                    continue
                for f in files:
                    if data_only and f.endswith(".crc"):
                        continue
                    n += 1
                    size += os.path.getsize(os.path.join(d, f))
            return n, size

        delta, ice = os.path.join(pass_dir, "orders_delta"), os.path.join(pass_dir, "lineitem_ice")
        dn, db = walk(delta, True)
        inn, ib = walk(ice, True)
        _, all_b = walk(pass_dir, False)
        return {"delta_files": dn, "delta_bytes": db, "ice_files": inn, "ice_bytes": ib,
                "stored_bytes_ratio": all_b / self.written_parquet_bytes}

    def _lake_live_files(self, pass_dir: str) -> int:
        """Live data files the predicated read-backs could have opened:
        the full snapshot of each one's table, unpruned (each read's kept
        files are the distinct files its plan scans)."""
        from dbt_json_readr_spark.sources import lakeformats as LF

        meta_dir = os.path.join(pass_dir, "lineitem_ice", "metadata")
        meta = max(
            (os.path.join(meta_dir, f) for f in os.listdir(meta_dir) if f.endswith(".metadata.json")),
            key=os.path.getmtime,
        )
        live = {
            "delta": len(LF.read_delta_snapshot(self.spark, os.path.join(pass_dir, "orders_delta")).inputFiles()),
            "ice": len(LF.read_iceberg_snapshot(self.spark, meta).inputFiles()),
        }
        return sum(live[table] for table in self.W.LAKE_READS.values())


# ------------------------------------------------------------ aggregation


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _layer_metrics(tracer, cores: int, passes: list[dict], untraced: list[dict],
                   get_spark_s: float) -> dict:
    """Per-layer numbers from traced passes: each metric is computed per
    pass, then the median over passes is reported."""
    from perfbench.trace import self_times

    spans = tracer.spans
    selft = self_times(spans)
    per_pass: list[dict] = []
    for p in passes:
        lo, hi = p["spans"]
        ss = spans[lo:hi]
        by_id = {s["id"]: s for s in ss}

        def layer_self(layer: str) -> float:
            return sum(selft[s["id"]] for s in ss if s["layer"] == layer)

        def outer(layer: str) -> list[dict]:
            return [s for s in ss if s["layer"] == layer
                    and (s["parent"] is None or by_id.get(s["parent"], {}).get("layer") != layer)]

        def incl(layer: str, names: tuple[str, ...]) -> float:
            return sum(s["t1"] - s["t0"] for s in outer(layer) if s["name"].split(".")[-1] in names)

        ops = p["ops"]
        eng = [o.get("engine", {}) for o in ops]
        dbt_ops = [o for o in ops if o["family"] == "plans.dbt"]
        dbt_eng = [o.get("engine", {}) for o in dbt_ops]
        json_bytes = sum(e.get("scan_bytes", 0) for e in dbt_eng)
        plan_bytes = sum(o.get("plan_scan_bytes", 0) for o in dbt_ops)
        gates = [s["attrs"] for s in ss if s["name"] == "dedup._gate_stats"]
        n_cand = sum(g.get("n_cand", 0) for g in gates)
        dedup_ops = [o for o in ops if o["op"] in ("dedup_minhash_lsh", "dedup_containment_lsh")]
        verified = sum(o.get("result", {}).get("rows", 0) for o in dedup_ops)
        lake = p.get("lake", {})
        kept = sum(o.get("files_kept", 0) for o in ops if o["family"] == "lake")
        total = lake.get("files_total", 0)
        wall_ops = sum(o["wall_s"] for o in ops)
        run_s = sum(e.get("executor_run_s", 0.0) for e in eng)
        m = {
            "session.prep_s": incl("session", ("prep",)),
            "plans.dbt.build_s": sum(o["build_s"] for o in dbt_ops),
            "plans.llm.build_s": sum(o["build_s"] for o in ops if o["family"] == "plans.llm"),
            "spark.action_s": sum(o["action_s"] for o in ops),
            "sources.artifacts.build_s": layer_self("sources.artifacts"),
            "sources.artifacts.calls": len(outer("sources.artifacts")),
            "sources.artifacts.json_input_bytes": json_bytes,
            "sources.artifacts.parse_tasks": sum(e.get("scan_tasks", 0) for e in dbt_eng),
            "sources.artifacts.parse_amplification": json_bytes / plan_bytes if plan_bytes else 0.0,
            "operators.lineage.self_s": layer_self("operators.lineage"),
            "operators.lineage.calls": len(outer("operators.lineage")),
            "operators.lineage.spark_jobs": sum(e.get("tagged_jobs", {}).get("operators.lineage", 0) for e in eng),
            "operators.dedup.self_s": layer_self("operators.dedup"),
            "operators.dedup.eager_jobs": sum(e.get("tagged_jobs", {}).get("operators.dedup", 0) for e in eng),
            "operators.dedup.candidate_pairs": n_cand,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.verify_yield": verified / n_cand if n_cand else 0.0,
            "operators.similarity.self_s": layer_self("operators.similarity"),
            "sources.deltawriter.write_s": incl("sources.deltawriter", ("write_delta",)),
            "sources.deltawriter.merge_s": incl("sources.deltawriter", ("merge_delta",)),
            "sources.deltawriter.delete_s": incl("sources.deltawriter", ("delete_delta",)),
            "sources.deltawriter.commits": sum(
                1 for s in outer("sources.deltawriter") if s["attrs"].get("version") is not None
            ),
            "sources.deltawriter.files_written": lake.get("delta_files", 0),
            "sources.deltawriter.bytes_written": lake.get("delta_bytes", 0),
            "sources.icebergwriter.write_s": incl("sources.icebergwriter", ("write_iceberg",)),
            "sources.icebergwriter.files_written": lake.get("ice_files", 0),
            "sources.icebergwriter.bytes_written": lake.get("ice_bytes", 0),
            "sources.lakeformats.snapshot_s": incl("sources.lakeformats", ("delta_snapshot", "iceberg_snapshot_info")),
            "sources.lakeformats.files_kept": kept,
            "sources.lakeformats.files_total": total,
            "sources.lakeformats.prune_ratio": 1.0 - kept / total if total else 0.0,
            "sources.avrocore.read_s": incl("sources.avrocore", ("read_container",)),
            "sources.avrocore.records": sum(s["attrs"].get("records", 0) for s in ss if s["name"] == "avrocore.read_container"),
            "stored_bytes_ratio": lake.get("stored_bytes_ratio", 0.0),
            "spark.jobs": sum(e.get("jobs", 0) for e in eng),
            "spark.stages": sum(e.get("stages", 0) for e in eng),
            "spark.tasks": sum(e.get("tasks", 0) for e in eng),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(e.get("executor_cpu_s", 0.0) for e in eng),
            "spark.input_bytes": sum(e.get("input_bytes", 0) for e in eng),
            "spark.shuffle_read_bytes": sum(e.get("shuffle_read_bytes", 0) for e in eng),
            "spark.shuffle_write_bytes": sum(e.get("shuffle_write_bytes", 0) for e in eng),
            "spark.spill_bytes": sum(e.get("spill_bytes", 0) for e in eng),
            "spark.core_busy_frac": run_s / (wall_ops * cores) if wall_ops else 0.0,
            "traced.pass_s": p["wall_s"],
        }
        per_pass.append(m)
    out = {k: _median([m[k] for m in per_pass]) for k in per_pass[0]} if per_pass else {}
    out["session.get_spark_s"] = get_spark_s
    out["trace.overhead_s"] = out.get("traced.pass_s", 0.0) - _median([p["wall_s"] for p in untraced])
    out["traced.passes"] = len(passes)
    return out


def _gate_shapes(tracer, passes: list[dict]) -> dict:
    """Each dedup gate's chosen shape in the last traced pass, with the
    counts behind it."""
    from dbt_json_readr_spark.operators import dedup as D

    if not passes:
        return {}
    lo, hi = passes[-1]["spans"]
    ss = tracer.spans[lo:hi]
    by_id = {s["id"]: s for s in ss}
    shapes = {}
    for s in ss:
        top = s
        while top["parent"] is not None and top["parent"] in by_id:
            top = by_id[top["parent"]]
        if s["name"] == "dedup._gate_stats":
            n, sb = s["attrs"].get("n_cand"), s["attrs"].get("set_bcast")
            shapes[top["name"]] = {
                "n_cand": n,
                "verify": "broadcast" if n is not None and n <= D.DEFAULT_BROADCAST_CAND_CAP else "shuffle",
                "broadcast_side": "sets" if sb else "candidates",
            }
        if s["name"] in ("vectors.probe_count", "vectors.probe_width"):
            shapes.setdefault(top["name"], {})[s["name"].split(".")[1]] = s["attrs"].get("value")
    for rec in shapes.values():
        if "probe_count" in rec and "probe_width" in rec:
            w, n = rec["probe_width"], rec["probe_count"]
            fits = w is not None and n * (8 * w + 24) <= D.DEFAULT_SET_BCAST_BYTES_CAP
            rec["broadcast_side"] = "vectors" if fits else "candidates"
    return shapes


def _op_table(cold: dict, steady: list[dict]) -> dict:
    """Per operation: cold wall, median steady wall and CPU, result size."""
    out = {}
    for i, r in enumerate(cold["ops"]):
        st = [p["ops"][i] for p in steady]
        out[r["op"]] = {
            "cold_s": r["wall_s"],
            "steady_s": _median([x["wall_s"] for x in st]),
            "steady_cpu_s": _median([x["cpu_s"] for x in st]),
            "rows": r.get("result", {}).get("rows"),
        }
    return out


# ------------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("dbt_project", "llm_dedup", "lake_rw", "dbt_llm"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "dbt_json_readr_spark", "__init__.py")):
        return _fail(f"no dbt_json_readr_spark package under {ROOT}; run from a repository checkout")
    if not os.path.isfile(os.path.join(ROOT, "bench.py")):
        return _fail(f"no bench.py under {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    # everything the run writes stays under the checkout
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    inputs = os.path.join(work, "inputs")
    for d in (inputs, os.path.join(work, "tmp"), os.path.join(work, "spark-local"), out_dir):
        os.makedirs(d, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    mem = DRIVER_MEM
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "TZ": "UTC",
        # Python workers import the package too; the run's cwd is not the root
        "PYTHONPATH": os.pathsep.join(x for x in (ROOT, os.environ.get("PYTHONPATH")) if x),
    })
    time.tzset()
    os.chdir(work)  # Spark's default warehouse and derby dirs land here
    sys.path.insert(0, ROOT)

    # SIGTERM unwinds like an exception, so the session is stopped and
    # every process this run started is waited for on that path too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, spec, work, out_dir, inputs, cpus, mem)
    finally:
        _reap(_descendants(os.getpid()), grace_s=0.0)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, work, out_dir, inputs, cpus, mem) -> int:
    # ---- set-up: imports, session, one trivial action
    import bench  # the headline harness; its CPU helpers are reused
    from dbt_json_readr_spark import session

    t_gs = time.perf_counter()
    spark = session.get_spark("perfbench")
    get_spark_s = time.perf_counter() - t_gs
    spark.range(1).count()
    setup_s = time.perf_counter() - T_START
    spark.sparkContext.setLogLevel("ERROR")
    steal0 = bench._cpu_sample()
    jvm_pid = bench._jvm_pid(spark)
    if jvm_pid is None:
        _stop_spark(spark)
        return _fail("cannot find the JVM pid")
    meter = Meter(jvm_pid, bench._proc_cpu_s)

    try:
        # ---- inputs and expected results, in a child process
        t_p = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "prepare.py"),
             "--workload", args.workload, "--seed", str(args.seed), "--out", inputs],
            check=True, timeout=120,
        )
        prepare_s = time.perf_counter() - t_p
        with open(os.path.join(inputs, "prepared.json")) as f:
            prepared = json.load(f)

        runner = Runner(spark, args.workload, inputs, prepared, meter, bench._cpu_sample)
        deadline = T_START + RUN_WALL_CAP_S

        cold = runner.run_pass()
        steady: list[dict] = []
        traced: list[dict] = []
        budget = args.seconds / 3 if args.trace else args.seconds

        def loop(into: list[dict], seconds: float) -> None:
            """One more pass at least, then more until ``seconds`` of pass
            time are spent and steal-disturbed passes are a minority (at
            most MAX_EXTRA_PASSES extra, within EXTRA_PASS_WALL_S), or the
            run's wall cap draws near."""
            spent, extra = 0.0, 0
            while True:
                p = runner.run_pass()
                into.append(p)
                spent += p["wall_s"]
                if time.perf_counter() + 1.5 * p["wall_s"] > deadline:
                    return
                if spent < seconds:
                    continue
                disturbed = sum(q["steal_pct"] > STEAL_RESAMPLE_PCT for q in into)
                late = time.perf_counter() - T_START + 1.5 * p["wall_s"] > EXTRA_PASS_WALL_S
                if 2 * disturbed < len(into) or extra >= MAX_EXTRA_PASSES or late:
                    return
                extra += 1

        loop(steady, budget)
        layers = shapes = tracer = None
        if args.trace:
            # untraced, traced, untraced: the overhead estimate is not
            # biased by whatever warm-up the first steady pass still pays
            from perfbench.trace import StatusStore, Tracer

            tracer = runner.tracer = Tracer(spark)
            runner.store = StatusStore(spark)
            tracer.install()
            try:
                loop(traced, budget)
            finally:
                tracer.uninstall()
                runner.tracer = runner.store = None
            loop(steady, budget)
            layers = _layer_metrics(tracer, runner.cores, traced, steady, get_spark_s)
            shapes = _gate_shapes(tracer, traced)
        steal1 = bench._cpu_sample()
    finally:
        rss = meter.peak_rss_mb()
        _stop_spark(spark)

    e2e = {
        "setup_s": setup_s,
        "cold_s": cold["wall_s"],
        "cold_cpu_s": cold["cpu_s"],
        "pass_s": _median([p["wall_s"] for p in steady]),
        "cpu_s": _median([p["cpu_s"] for p in steady]),
        "peak_rss_mb": rss["total"],
    }
    if layers:
        # wall times are per-layer metrics, not end-to-end ones: on a
        # shared host they move with hypervisor steal, which CPU time
        # does not count
        layers.update(cold_s=e2e["cold_s"], pass_s=e2e["pass_s"])
    error_rate = runner.failed / runner.attempted
    host = _host_stamp(cpus, mem)
    if steal0 and steal1 and steal1[1] > steal0[1]:
        host["steal_pct"] = round(100.0 * (steal1[0] - steal0[0]) / (steal1[1] - steal0[1]), 2)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "closed_loop_clients": 1,
        "host": host,
        "inputs": prepared["sizes"],
        "prepare_s": prepare_s,
        "peak_rss_mb_parts": rss,
        "samples": {"cold": 1, "steady": len(steady), "traced": len(traced)},
        "pass_steal_pct": [round(p["steal_pct"], 2) for p in [cold] + steady + traced],
        "end_to_end": dict(e2e, error_rate=error_rate),
        "stored_bytes_ratio": (_median([p["lake"]["stored_bytes_ratio"] for p in steady])
                               if args.workload == "lake_rw" else None),
        "failures": runner.failures[:20],
        "per_layer": layers,
        "gate_shapes": shapes,
        "ops": _op_table(cold, steady),
        "ops_last_pass": [
            {k: v for k, v in r.items() if k != "result"}
            for r in (traced or steady)[-1]["ops"]
        ],
    }
    for name, unit in (("setup_s", "s"), ("cold_s", "s"), ("cold_cpu_s", "s"), ("pass_s", "s"),
                       ("cpu_s", "s"), ("peak_rss_mb", "MB")):
        n = {"pass_s": len(steady), "cpu_s": len(steady)}.get(name, 1)
        print(f"{name:>20} = {e2e[name]:.4f} {unit}  (n={n})")
    print(f"{'error_rate':>20} = {error_rate:.4f} ratio  ({runner.failed}/{runner.attempted})")
    if report["stored_bytes_ratio"] is not None:
        print(f"{'stored_bytes_ratio':>20} = {report['stored_bytes_ratio']:.4f} ratio  (n={len(steady)})")
    if layers:
        print(f"{'trace.overhead_s':>20} = {layers['trace.overhead_s']:.4f} s")
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"report": report,
                   "spans": tracer.spans if tracer else [],
                   "passes": [{k: v for k, v in p.items() if k != "ops"} for p in [cold] + steady + traced]},
                  f, default=str)
    print(json.dumps({"perfbench_report": report}, default=str))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
