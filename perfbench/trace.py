"""Tracing for the benchmark's traced run: in-memory spans around the
program's layer functions, and per-operation engine numbers read from
Spark's status store.

Spans are recorded by wrapping module attributes from the outside: a
wrapped function is rebound under every name any module of the package
holds it by (``A.manifest_edges`` as well as ``from .x import f``), so
the program itself is unchanged.  A span's self time is its duration
minus the time its direct child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time

PKG = "dbt_json_readr_spark"

# layer name → (module, function filter).  ``None`` wraps every function
# the module defines, ``"public"`` those without a leading underscore, a
# tuple only the named ones.
LAYERS: dict[str, tuple[str, tuple[str, ...] | str | None]] = {
    "session": (f"{PKG}.session", ("prep",)),
    "sources.artifacts": (f"{PKG}.sources.artifacts", None),
    "operators.lineage": (f"{PKG}.operators.lineage", None),
    "operators.dedup": (f"{PKG}.operators.dedup", None),
    "operators.similarity": (f"{PKG}.operators.similarity", None),
    "functions.vectors": (f"{PKG}.functions.vectors", ("probe_count", "probe_width")),
    "sources.deltawriter": (f"{PKG}.sources.deltawriter", ("write_delta", "merge_delta", "delete_delta")),
    "sources.icebergwriter": (f"{PKG}.sources.icebergwriter", ("write_iceberg",)),
    "sources.lakeformats": (f"{PKG}.sources.lakeformats", "public"),
    "sources.avrocore": (f"{PKG}.sources.avrocore", ("read_container",)),
}
# layers whose Spark jobs are tagged, so jobs run inside them (eager
# loops, gate probes) are attributed to the layer
TAGGED = ("operators.lineage", "operators.dedup")
JOB_TAG = "perfbench-layer-"


def _summary(qualname: str, result) -> dict:
    """Small, JSON-able facts taken from a wrapped call's return value."""
    try:
        if qualname == "operators.dedup._gate_stats":
            return {"n_cand": int(result[0]), "set_bcast": bool(result[1])}
        if qualname == "sources.avrocore.read_container":
            return {"records": len(result)}
        if qualname.startswith("functions.vectors.probe_"):
            return {"value": result}
        if isinstance(result, dict) and qualname.startswith(("sources.deltawriter", "sources.icebergwriter")):
            return {k: v for k, v in result.items() if isinstance(v, (int, float, str, type(None)))}
    except Exception:  # noqa: BLE001 — a summary must never fail a call
        pass
    return {}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._depth = {layer: 0 for layer in TAGGED}

    # ------------------------------------------------------------ spans

    def begin(self, name: str, layer: str, **attrs) -> dict:
        parent = self._stack[-1]["id"] if self._stack else None
        span = {"id": len(self.spans), "parent": parent, "name": name, "layer": layer,
                "t0": time.perf_counter(), "t1": None, "attrs": attrs}
        self.spans.append(span)
        self._stack.append(span)
        if layer in self._depth:
            if self._depth[layer] == 0:
                self.sc.addJobTag(JOB_TAG + layer)
            self._depth[layer] += 1
        return span

    def end(self, span: dict, **attrs) -> None:
        span["t1"] = time.perf_counter()
        span["attrs"].update(attrs)
        popped = self._stack.pop()
        assert popped is span, "span stack out of order"
        layer = span["layer"]
        if layer in self._depth:
            self._depth[layer] -= 1
            if self._depth[layer] == 0:
                self.sc.removeJobTag(JOB_TAG + layer)

    # --------------------------------------------------------- wrapping

    def _wrap(self, fn, layer: str, short: str):
        qual = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = self.begin(f"{short}.{fn.__name__}", layer)
            try:
                result = fn(*args, **kwargs)
            except BaseException as e:
                self.end(span, error=type(e).__name__)
                raise
            self.end(span, **_summary(qual, result))
            return result

        return wrapper

    def install(self) -> None:
        pkg_mods = [m for n, m in list(sys.modules.items()) if n == PKG or n.startswith(PKG + ".")]
        for layer, (modname, which) in LAYERS.items():
            mod = importlib.import_module(modname)
            short = modname.rsplit(".", 1)[1]
            for name, fn in list(vars(mod).items()):
                if not inspect.isfunction(fn) or fn.__module__ != modname:
                    continue
                if which == "public" and name.startswith("_"):
                    continue
                if isinstance(which, tuple) and name not in which:
                    continue
                wrapper = self._wrap(fn, layer, short)
                for m in pkg_mods:
                    for attr, val in list(vars(m).items()):
                        if val is fn:
                            setattr(m, attr, wrapper)
                            self._patches.append((m, attr, fn))

    def uninstall(self) -> None:
        for m, attr, fn in reversed(self._patches):
            setattr(m, attr, fn)
        self._patches.clear()


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the time its direct children cover."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None and s["t1"] is not None:
            child[s["parent"]] += s["t1"] - s["t0"]
    return {s["id"]: (s["t1"] - s["t0"]) - child[s["id"]] for s in spans if s["t1"] is not None}


class StatusStore:
    """Per-operation engine numbers from the live status store.

    Reads happen right after each operation.  Every job id issued since
    the previous read must still be retained, as must every stage of
    those jobs; if ``spark.ui.retainedJobs``/``retainedStages`` evicted
    any, the operation's record would be silently short, so this
    raises instead."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self.graph = jvm.org.apache.spark.ui.scope.RDDOperationGraph
        self.last_job = max((j["jobId"] for j in self._jobs()), default=-1)

    def _jobs(self) -> list[dict]:
        return json.loads(self.mapper.writeValueAsString(self.store.jobsList(None)))

    def _stages(self) -> list[dict]:
        return json.loads(self.mapper.writeValueAsString(
            self.store.stageList(None, False, False, self._no_quantiles, None)))

    def _is_scan(self, stage_id: int) -> bool:
        dot = self.graph.makeDotFile(self.store.operationGraphForStage(stage_id))
        return "FileScanRDD" in dot

    def read(self, op: str, scans: bool = False) -> dict:
        self.jsc.listenerBus().waitUntilEmpty(30_000)
        jobs = [j for j in self._jobs() if j["jobId"] > self.last_job]
        ids = sorted(j["jobId"] for j in jobs)
        if ids and ids != list(range(self.last_job + 1, ids[-1] + 1)):
            raise RuntimeError(
                f"{op}: status store dropped jobs (kept {len(ids)} of "
                f"{ids[-1] - self.last_job}); raise spark.ui.retainedJobs"
            )
        if ids:
            self.last_job = ids[-1]
        want = {sid for j in jobs for sid in j["stageIds"]}
        stages = [s for s in self._stages() if s["stageId"] in want] if want else []
        missing = want - {s["stageId"] for s in stages}
        if missing:
            raise RuntimeError(
                f"{op}: status store dropped {len(missing)} of {len(want)} stages; "
                "raise spark.ui.retainedStages"
            )
        done = [s for s in stages if s["status"] == "COMPLETE"]
        rec = {
            "jobs": len(jobs),
            "jobs_in_group": sum(1 for j in jobs if j.get("jobGroup") == op),
            "stages": len(done),
            "tasks": sum(s["numCompleteTasks"] for s in done),
            "executor_run_s": sum(s["executorRunTime"] for s in done) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in done) / 1e9,
            "input_bytes": sum(s["inputBytes"] for s in done),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in done),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in done),
            "spill_bytes": sum(s["diskBytesSpilled"] for s in done),
            "tagged_jobs": {
                layer: sum(1 for j in jobs if JOB_TAG + layer in (j.get("jobTags") or []))
                for layer in TAGGED
            },
        }
        if scans:
            scan = [s for s in done if s["inputBytes"] > 0 and self._is_scan(s["stageId"])]
            rec["scan_bytes"] = sum(s["inputBytes"] for s in scan)
            rec["scan_tasks"] = sum(s["numCompleteTasks"] for s in scan)
        return rec


def plan_scan_bytes(df) -> int:
    """On-disk bytes of every file relation the DataFrame's optimized
    plan scans, counted once per scan: the bytes the returned plan itself
    needs to read."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            total += int(leaf.relation().sizeInBytes())
    return total
