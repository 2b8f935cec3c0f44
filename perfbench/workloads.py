"""The workloads: their input sizes, their operation mixes and the
expected result of every operation.

An operation is a ``build`` step (the program's public entry call,
returning a lazy DataFrame or, for eager writes, an audit dict) plus,
for DataFrames, the ``collect()`` action.  Results are reduced to a
(row count, digest) pair over rows normalized the way the repository's
oracle tests normalize them, so a check costs one hash and never holds
two copies of a result.

Expected digests come from code independent of the Spark plans:
- dbt operations: the repository's stdlib oracles (``oracles.py``), fed
  the generated JSON through ``oracles._load``'s ``target`` argument and
  executed by DuckDB;
- llm_dedup operations: each key's ``registry`` DuckDB oracle SQL over
  the generated parquet;
- lake_rw operations: a plain-Python model of the rows written.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

from . import gen

# Input sizes, chosen so that one run (set-up, a cold pass and the
# steady passes) fits a few shared cores.
SIZES: dict[str, dict[str, Any]] = {
    "dbt_project": dict(n_models=60, depth=3, n_sources=12, n_macros=12, col_range=(5, 30)),
    "llm_dedup": dict(n_base_docs=400, n_dup_docs=100, n_base_vecs=500, n_dup_vecs=100),
    "lake_rw": dict(n_orders=1500, n_merge=300, n_lines=1500),
}
# dbt_llm runs the read-only layers in one process, the dbt_project
# inputs and mix followed by the llm_dedup inputs and part of its mix,
# so they are measured without paying a second set-up and cold pass
WORKLOADS = tuple(SIZES) + ("dbt_llm",)

DBT_PROJECT_KEYS = [
    "dbt_manifest_unified",
    "dbt_source_freshness",
    "dbt_critical_path",
]
LLM_KEYS = [
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "ann_bruteforce_topk",
]
# dbt_llm leaves out the costliest llm operation; the dedup and
# similarity operators stay measured by the other two
DBT_LLM_LLM_KEYS = ["dedup_minhash_lsh", "ann_bruteforce_topk"]

# lake_rw layout and predicates
DELTA_PART = ["o_orderpriority"]
ICE_PART = ["bucket(8, l_orderkey)"]
N_PROBES = 5
# predicated read-backs → the table each reads
LAKE_READS = {"delta_read_partition_pred": "delta", "iceberg_read_bucket_probes": "ice"}


def generate(workload: str, seed: int, out: str) -> dict:
    if workload == "dbt_llm":
        return {w: generate(w, seed, out) for w in ("dbt_project", "llm_dedup")}
    kw = SIZES[workload]
    if workload == "dbt_project":
        return gen.dbt_project(os.path.join(out, "target"), seed, **kw)
    if workload == "llm_dedup":
        return gen.llm_corpus(os.path.join(out, "corpus"), seed, **kw)
    if workload == "lake_rw":
        return gen.lake_batches(os.path.join(out, "batches"), seed, **kw)
    raise KeyError(workload)


# ------------------------------------------------------------- digests


def digest(cols: list[str], rows) -> dict:
    from tests.oracle_utils import normalize_rows

    norm = normalize_rows(list(cols), rows)
    h = hashlib.sha256(repr((sorted(cols), norm)).encode()).hexdigest()
    return {"rows": len(norm), "digest": h}


# ----------------------------------------------------------- operations


@dataclass
class Op:
    name: str
    family: str  # "plans.dbt" | "plans.llm" | "lake"
    build: Callable  # spark -> DataFrame | dict
    # eager ops (writes) return an audit dict; ``summarize`` turns it
    # into the comparable record
    summarize: Callable[[dict], dict] | None = None


def _dbt_ops(keys: list[str], target: str) -> list[Op]:
    from dbt_json_readr_spark.plans import dbt as plans_dbt

    def mk(key: str) -> Op:
        # looked up at call time, so a traced run sees wrapped attributes
        return Op(key, "plans.dbt", lambda spark: getattr(plans_dbt, key)(spark, "", target=target))

    return [mk(k) for k in keys]


def _llm_ops(corpus: str, keys: list[str]) -> list[Op]:
    from dbt_json_readr_spark.plans import llm as plans_llm

    def mk(key: str) -> Op:
        return Op(key, "plans.llm", lambda spark: getattr(plans_llm, key)(spark, corpus))

    return [mk(k) for k in keys]


class LakePass:
    """State of one lake_rw pass: a fresh directory per pass, so every
    pass really writes (the registry's lake-write keys cache their
    tables and would not)."""

    def __init__(self, batches: str, pass_dir: str, params: dict):
        self.batches = batches
        self.delta = os.path.join(pass_dir, "orders_delta")
        self.ice = os.path.join(pass_dir, "lineitem_ice")
        self.probe_keys = params["probe_keys"]
        self.cust_cut = params["cust_cut"]
        self.ice_meta: str | None = None

    def _read(self, spark, name: str):
        return spark.read.parquet(os.path.join(self.batches, f"{name}.parquet"))

    def ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        from dbt_json_readr_spark.sources import deltawriter as DW
        from dbt_json_readr_spark.sources import icebergwriter as IW
        from dbt_json_readr_spark.sources import lakeformats as LF

        def append(spark):
            return DW.write_delta(spark, self._read(spark, "orders"), self.delta, partition_by=DELTA_PART)

        def merge(spark):
            return DW.merge_delta(spark, self.delta, self._read(spark, "merge_src"), on=["o_orderkey"])

        def delete(spark):
            return DW.delete_delta(spark, self.delta, [("o_custkey", "<", self.cust_cut)])

        def ice_write(spark):
            audit = IW.write_iceberg(spark, self._read(spark, "lineitem"), self.ice,
                                     partition_by=ICE_PART)
            self.ice_meta = audit["metadata_path"]
            return audit

        def read_partition(spark):
            df = LF.read_delta_snapshot(
                spark, self.delta, predicate=[("o_orderpriority", "=", gen.PRIORITIES[0])]
            )
            return df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_totalcents").alias("cents"),
                F.min("o_orderkey").alias("lo"),
                F.max("o_orderkey").alias("hi"),
            )

        def read_buckets(spark):
            out = None
            for k in self.probe_keys:
                df = LF.read_iceberg_snapshot(spark, self.ice_meta, predicate=[("l_orderkey", "=", k)])
                out = df if out is None else out.unionByName(df)
            return out

        # writes are checked by what they committed; the rows they leave
        # behind are checked by the read-backs
        version = lambda a: {"version": a["version"]}  # noqa: E731
        return [
            Op("delta_append_orders", "lake", append, version),
            Op("delta_merge_upsert", "lake", merge, version),
            Op("delta_dv_delete", "lake", delete,
               lambda a: {"version": a["version"], "rows_deleted": a["rows_deleted"]}),
            Op("iceberg_bucket_write", "lake", ice_write,
               lambda a: {"rows_written": a["rows_written"]}),
            Op("delta_read_partition_pred", "lake", read_partition),
            Op("iceberg_read_bucket_probes", "lake", read_buckets),
        ]


def lake_params(batches: str) -> dict:
    with open(os.path.join(batches, "rows.json")) as f:
        rows = json.load(f)
    keys = sorted({r[0] for r in rows["lineitem"]})
    step = max(1, len(keys) // N_PROBES)
    return {
        "probe_keys": keys[::step][:N_PROBES],
        "cust_cut": rows["n_cust"] // 5,
    }


def ops_for(workload: str, inputs: str) -> list[Op]:
    target, corpus = os.path.join(inputs, "target"), os.path.join(inputs, "corpus")
    if workload == "dbt_project":
        return _dbt_ops(DBT_PROJECT_KEYS, target)
    if workload == "llm_dedup":
        return _llm_ops(corpus, LLM_KEYS)
    if workload == "dbt_llm":
        return _dbt_ops(DBT_PROJECT_KEYS, target) + _llm_ops(corpus, DBT_LLM_LLM_KEYS)
    raise KeyError(workload)


# ------------------------------------------------------------ expected


def _dbt_expected(keys: list[str], targets: list[str]) -> dict:
    import duckdb

    from dbt_json_readr_spark import oracles

    orig = oracles._load
    out = {}
    con = duckdb.connect()
    try:
        for key in keys:
            rows, cols = [], None
            for t in targets:
                oracles._load = lambda name, target=None, _t=t: orig(name, Path(_t))
                rel = con.sql(getattr(oracles, key)())
                cols = list(rel.columns)
                rows.extend(rel.fetchall())
            out[key] = digest(cols, rows)
    finally:
        oracles._load = orig
        con.close()
    return out


def _llm_expected(corpus: str, keys: list[str]) -> dict:
    import duckdb

    from dbt_json_readr_spark import registry

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    out = {}
    for key in keys:
        # DuckDB inlines CTEs, so the md5-heavy sketch CTEs of these
        # oracles are evaluated once per reference; materializing them
        # is an evaluation hint only (same rows, ~10x less time)
        sql = re.sub(r"(\b\w+) AS \(", r"\1 AS MATERIALIZED (", registry._resolved_oracle(key))
        rel = con.sql(sql)
        out[key] = digest(list(rel.columns), rel.fetchall())
    con.close()
    return out


def _lake_expected(batches: str) -> dict:
    with open(os.path.join(batches, "rows.json")) as f:
        rows = json.load(f)
    p = lake_params(batches)
    table = {r[0]: r for r in rows["orders"]}
    for r in rows["merge_src"]:
        table[r[0]] = r
    doomed = [k for k, r in table.items() if r[1] < p["cust_cut"]]
    for k in doomed:
        del table[k]
    by_status: dict[str, list] = {}
    for r in table.values():
        if r[4] == gen.PRIORITIES[0]:
            by_status.setdefault(r[2], []).append(r)
    part = [(st, len(v), sum(x[3] for x in v), min(x[0] for x in v), max(x[0] for x in v))
            for st, v in by_status.items()]
    probes = [tuple(r) for r in rows["lineitem"] if r[0] in set(p["probe_keys"])]
    return {
        "delta_append_orders": {"version": 0},
        "delta_merge_upsert": {"version": 1},
        "delta_dv_delete": {"version": 2, "rows_deleted": len(doomed)},
        "iceberg_bucket_write": {"rows_written": len(rows["lineitem"])},
        "delta_read_partition_pred": digest(["o_orderstatus", "n", "cents", "lo", "hi"], part),
        "iceberg_read_bucket_probes": digest(gen.LINE_COLS, probes),
    }


def expected(workload: str, inputs: str) -> dict:
    target, corpus = os.path.join(inputs, "target"), os.path.join(inputs, "corpus")
    if workload == "dbt_project":
        return _dbt_expected(DBT_PROJECT_KEYS, [target])
    if workload == "llm_dedup":
        return _llm_expected(corpus, LLM_KEYS)
    if workload == "dbt_llm":
        return {**_dbt_expected(DBT_PROJECT_KEYS, [target]), **_llm_expected(corpus, DBT_LLM_LLM_KEYS)}
    if workload == "lake_rw":
        return _lake_expected(os.path.join(inputs, "batches"))
    raise KeyError(workload)
