"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files.  Sizes are fixed per workload so
that seeds change content, not volume, and run-to-run spread stays a
property of the program rather than of the inputs.  Each generator
returns a dict of input sizes that the benchmark reports next to its
timings.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

PROJECT = "bench"
GENERATED_AT = "2026-01-01T00:00:00Z"

# column vocabulary shared by every node, so name-matched lineage and
# the catalog↔manifest reconciliation see realistic overlap
_COLS = [f"{p}_{s}" for p in ("order", "cust", "item", "ship", "pay", "acct", "evt", "sku")
         for s in ("id", "key", "ts", "amt", "qty", "status", "code", "name", "flag", "dt")]
_TYPES = ["bigint", "int", "varchar", "double", "boolean", "timestamp", "date", "real", "smallint"]
# catalog-side drift: safe widenings and breaking changes the drift
# classifier distinguishes
_DRIFT = {"int": "bigint", "real": "double", "varchar": "bigint", "double": "bigint",
          "smallint": "int"}
_WORDS = ("batch part spark line column order small sort fast value scan a hash slow group "
          "agg filter query big key window row table stream merge data vector customer the "
          "join").split()


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _write_json(path: str, doc: dict) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = json.dumps(doc, sort_keys=True, separators=(",", ":")).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


# ------------------------------------------------------------------ dbt


def _columns(rng: random.Random, lo: int, hi: int) -> dict:
    names = rng.sample(_COLS, rng.randint(lo, hi))
    return {
        n: {
            "name": n,
            "description": f"column {n}" if rng.random() < 0.7 else "",
            "data_type": rng.choice(_TYPES),
            "meta": {},
            "tags": ["pii"] if rng.random() < 0.05 else [],
        }
        for n in names
    }


def _catalog_entry(rng: random.Random, uid: str, db: str, schema: str, name: str,
                   cols: dict, kind: str) -> dict:
    out = {}
    idx = 0
    for c in cols.values():
        r = rng.random()
        if r < 0.04:
            continue  # documented, never built
        typ = _DRIFT.get(c["data_type"], c["data_type"]) if r < 0.10 else c["data_type"]
        idx += 1
        out[c["name"]] = {"index": idx, "name": c["name"], "type": typ.upper()}
    if rng.random() < 0.1:
        idx += 1
        out["_loaded_at"] = {"index": idx, "name": "_loaded_at", "type": "TIMESTAMP"}
    return {
        "unique_id": uid,
        "metadata": {"database": db, "schema": schema, "name": name, "type": kind},
        "columns": out,
    }


def _project(rng: random.Random, n_models: int, depth: int, n_sources: int,
             n_macros: int, col_range: tuple[int, int]) -> dict:
    """One dbt project's artifacts as dicts: manifest, catalog,
    run_results and sources.  Models sit on ``depth`` levels; every
    model above level 1 depends on a model one level down, so the DAG
    depth is exactly ``depth`` (+1 for the sources)."""
    sources, nodes, macros = {}, {}, {}
    cat_nodes, cat_sources = {}, {}
    for i in range(n_sources):
        uid = f"source.{PROJECT}.raw.s_{i:04d}"
        cols = _columns(rng, *col_range)
        sources[uid] = {
            "unique_id": uid, "resource_type": "source", "database": "raw",
            "schema": "raw", "name": f"s_{i:04d}", "identifier": f"s_{i:04d}",
            "description": f"raw load {i}" if rng.random() < 0.8 else "",
            "config": {"enabled": True}, "columns": cols, "meta": {},
            "tags": ["raw"] + (["pii"] if rng.random() < 0.1 else []),
        }
        cat_sources[uid] = _catalog_entry(rng, uid, "raw", "raw", f"s_{i:04d}", cols, "BASE TABLE")
    macro_ids = [f"macro.{PROJECT}.mac_{i:03d}" for i in range(n_macros)]
    for i, uid in enumerate(macro_ids):
        sql = f"select {rng.choice(_COLS)} from {{{{ ref('x{i}') }}}} -- v{rng.randint(0, 3)}"
        deps = rng.sample(macro_ids[:i], min(i, rng.randint(0, 2)))
        macros[uid] = {
            "unique_id": uid, "resource_type": "macro", "name": f"mac_{i:03d}",
            "description": f"macro {i}" if rng.random() < 0.6 else "",
            "macro_sql": sql, "depends_on": {"macros": sorted(deps)}, "meta": {},
            "tags": [],
        }
    levels: list[list[str]] = [list(sources)]
    per_level = max(1, n_models // depth)
    model_ids: list[str] = []
    for lvl in range(1, depth + 1):
        count = per_level if lvl < depth else n_models - per_level * (depth - 1)
        ids = []
        for _ in range(count):
            mi = len(model_ids)
            uid = f"model.{PROJECT}.m_{mi:05d}"
            parents = {rng.choice(levels[lvl - 1])}
            if rng.random() < 0.35:
                lower = rng.randrange(0, lvl)
                parents.add(rng.choice(levels[lower]))
            cols = _columns(rng, *col_range)
            mat = rng.choice(["table", "view", "incremental", "ephemeral"])
            schema = ["staging", "intermediate", "marts"][min(2, (lvl - 1) * 3 // depth)]
            body = f"select * from m{mi}"
            nodes[uid] = {
                "unique_id": uid, "resource_type": "model", "database": "analytics",
                "schema": schema, "name": f"m_{mi:05d}",
                "alias": f"a_{mi:05d}" if rng.random() < 0.1 else None,
                "description": f"model {mi}" if rng.random() < 0.75 else "",
                "config": {"enabled": rng.random() < 0.97, "materialized": mat},
                "depends_on": {"nodes": sorted(parents),
                               "macros": sorted(rng.sample(macro_ids, min(len(macro_ids), rng.randint(0, 2))))},
                "columns": cols, "meta": {}, "tags": rng.sample(["mart", "core", "finance", "daily", "pii"], rng.randint(0, 2)),
                "checksum": {"name": "sha256", "checksum": _sha(body)},
            }
            if mat != "ephemeral":
                cat_nodes[uid] = _catalog_entry(
                    rng, uid, "analytics", schema, f"m_{mi:05d}", cols,
                    "VIEW" if mat == "view" else "BASE TABLE")
            ids.append(uid)
            model_ids.append(uid)
        levels.append(ids)
    test_ids = []
    for mi, uid in enumerate(model_ids):
        if rng.random() < 0.6:
            parents = [uid]
            if rng.random() < 0.15:
                parents.append(rng.choice(model_ids))
            tid = f"test.{PROJECT}.t_{len(test_ids):05d}"
            nodes[tid] = {
                "unique_id": tid, "resource_type": "test", "database": "analytics",
                "schema": "dbt_test", "name": f"t_{len(test_ids):05d}", "alias": None,
                "description": "", "config": {"enabled": True, "materialized": "test"},
                "depends_on": {"nodes": sorted(set(parents)), "macros": []},
                "columns": {}, "meta": {}, "tags": [],
                "checksum": {"name": "none", "checksum": ""},
            }
            test_ids.append(tid)
    results = []
    for uid in model_ids + test_ids:
        is_test = uid.startswith("test.")
        r = rng.random()
        if is_test:
            status = "pass" if r < 0.85 else "fail" if r < 0.93 else "warn" if r < 0.98 else "error"
        else:
            status = "success" if r < 0.95 else "error"
        resp = {} if status == "error" else {"rows_affected": rng.randint(0, 2_000_000)}
        results.append({
            "unique_id": uid, "status": status, "thread_id": f"Thread-{rng.randint(1, 8)}",
            "execution_time": round(rng.uniform(0.05, 40.0), 3), "adapter_response": resp,
            "message": None if status in ("success", "pass") else f"{status} in {uid}",
        })
    fresh = []
    for uid in sources:
        lag = rng.randint(60, 400_000)
        status = "pass" if lag < 43_200 else "warn" if lag < 172_800 else "error"
        fresh.append({
            "unique_id": uid, "status": status,
            "max_loaded_at": f"2025-12-{1 + lag % 28:02d}T{lag % 24:02d}:{lag % 60:02d}:00Z",
            "snapshotted_at": GENERATED_AT,
            "max_loaded_at_time_ago_in_s": float(lag),
            "criteria": {"warn_after": {"count": 12, "period": "hour"},
                         "error_after": {"count": 48, "period": "hour"}},
        })
    meta = {"dbt_version": "1.7.0", "generated_at": GENERATED_AT, "project_name": PROJECT}
    return {
        "manifest.json": {"metadata": meta, "nodes": nodes, "sources": sources, "macros": macros},
        "catalog.json": {"metadata": meta, "nodes": cat_nodes, "sources": cat_sources},
        "run_results.json": {"metadata": meta, "elapsed_time": round(sum(x["execution_time"] for x in results), 3),
                             "results": results},
        "sources.json": {"metadata": meta, "elapsed_time": 1.5, "results": fresh},
        "_counts": {"models": len(model_ids), "tests": len(test_ids), "sources": len(sources),
                    "macros": len(macros),
                    "edges": sum(len(n["depends_on"]["nodes"]) for n in nodes.values())},
    }


def dbt_project(out: str, seed: int, *, n_models: int, depth: int, n_sources: int,
                n_macros: int, col_range: tuple[int, int]) -> dict:
    """One large project ``target/``: manifest, catalog, run_results and
    sources JSON."""
    rng = random.Random(f"dbt_project:{seed}")
    arts = _project(rng, n_models, depth, n_sources, n_macros, col_range)
    sizes = {"files": 0, "bytes": 0}
    for name, doc in arts.items():
        if name.startswith("_"):
            continue
        sizes["files"] += 1
        sizes["bytes"] += _write_json(os.path.join(out, name), doc)
    sizes.update(arts["_counts"], depth=depth)
    return sizes


# ------------------------------------------------------------------ llm


def llm_corpus(out: str, seed: int, *, n_base_docs: int, n_dup_docs: int,
               n_base_vecs: int, n_dup_vecs: int, dim: int = 64) -> dict:
    """documents.parquet + embeddings.parquet in the benchmark's table
    schemas: seeded base documents (word sequences over a small
    vocabulary) and vectors (ten label clusters), then near-duplicate
    replicas made with seeded salts and perturbations — dropped, swapped
    or inserted words for text, small noise for vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"llm_dedup:{seed}")
    langs = ["en"] * 5 + ["de", "es", "fr", "zh"] * 2
    texts, meta = [], []
    for _ in range(n_base_docs):
        texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(12, 90))))
        meta.append((rng.choice(langs), f"src{rng.randrange(8)}"))
    for _ in range(n_dup_docs):
        j = rng.randrange(n_base_docs)
        words = texts[j].split()
        for _ in range(rng.randint(0, 3)):
            op, pos = rng.random(), rng.randrange(len(words))
            if op < 0.4 and len(words) > 5:
                del words[pos]
            elif op < 0.7:
                words[pos] = rng.choice(_WORDS)
            else:
                words.insert(pos, rng.choice(_WORDS))
        if rng.random() < 0.3:
            words.append(f"salt{rng.randrange(1000)}")
        texts.append(" ".join(words))
        meta.append(meta[j] if rng.random() < 0.8 else (rng.choice(langs), f"src{rng.randrange(8)}"))
    docs = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([m[0] for m in meta], pa.string()),
            "source": pa.array([m[1] for m in meta], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out, exist_ok=True)
    pq.write_table(docs, os.path.join(out, "documents.parquet"))

    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(n_base_vecs):
        lab = rng.randrange(10)
        vecs.append([c * 0.3 + rng.gauss(0, 0.6) for c in centers[lab]])
        labels.append(lab)
    for _ in range(n_dup_vecs):
        j = rng.randrange(n_base_vecs)
        vecs.append([x + rng.gauss(0, 0.02) for x in vecs[j]])
        labels.append(labels[j])
    embs = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(embs, os.path.join(out, "embeddings.parquet"))
    paths = [os.path.join(out, f) for f in ("documents.parquet", "embeddings.parquet")]
    return {"files": 2, "bytes": sum(os.path.getsize(p) for p in paths),
            "docs": len(texts), "dup_docs": n_dup_docs, "vectors": len(vecs),
            "dup_vectors": n_dup_vecs}


# ------------------------------------------------------------------ lake

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LINE_COLS = ["l_orderkey", "l_linenumber", "l_quantity", "l_pricecents", "l_returnflag"]


def _order(rng: random.Random, key: int, n_cust: int) -> tuple:
    return (key, rng.randrange(1, n_cust), rng.choice("FOP"), rng.randrange(100, 50_000_000),
            rng.choice(PRIORITIES))


def lake_batches(out: str, seed: int, *, n_orders: int, n_merge: int, n_lines: int) -> dict:
    """Seeded orders/lineitem batches as parquet: one orders append, a
    MERGE source (half updates of existing keys, half new keys) and one
    lineitem batch.  Amounts are integer cents so every read-back
    aggregate is exact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"lake_rw:{seed}")
    n_cust = max(10, n_orders // 4)
    keys = rng.sample(range(1, 40 * n_orders), n_orders + n_merge // 2)
    b1 = sorted(keys[:n_orders])
    fresh = keys[n_orders:]
    upd = rng.sample(b1, n_merge - len(fresh))
    batches = {
        "orders": [_order(rng, k, n_cust) for k in b1],
        "merge_src": [_order(rng, k, n_cust) for k in sorted(upd + fresh)],
    }
    line_orders = rng.sample(b1, min(len(b1), max(1, n_lines // 4)))
    lines = []
    for k in line_orders:
        for ln in range(1, 5):
            if len(lines) < n_lines:
                lines.append((k, ln, rng.randrange(1, 50), rng.randrange(100, 10_000_000),
                              rng.choice("ANR")))
    os.makedirs(out, exist_ok=True)
    o_schema = pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                          ("o_orderstatus", pa.string()), ("o_totalcents", pa.int64()),
                          ("o_orderpriority", pa.string())])
    l_schema = pa.schema([("l_orderkey", pa.int64()), ("l_linenumber", pa.int32()),
                          ("l_quantity", pa.int64()), ("l_pricecents", pa.int64()),
                          ("l_returnflag", pa.string())])
    sizes = {"files": 0, "bytes": 0, "rows": 0}
    for name, rows in list(batches.items()) + [("lineitem", lines)]:
        schema = l_schema if name == "lineitem" else o_schema
        table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(table, path)
        sizes["files"] += 1
        sizes["bytes"] += os.path.getsize(path)
        sizes["rows"] += len(rows)
        sizes[f"{name}_rows"] = len(rows)
    batches["lineitem"] = lines
    with open(os.path.join(out, "rows.json"), "w") as f:
        json.dump({"n_cust": n_cust, **batches}, f)
    return sizes
