"""The surface the benchmark harness (perfbench/) reads from the
package.  Its traced run wraps ``operators.dedup._gate_stats`` and the
``functions.vectors`` probes and compares their results against the
dedup caps; a refactor that renames or reshapes any of these silently
blanks the traced ``gate_shapes`` and ``operators.dedup.*`` metrics
instead of failing, so this test fails first."""

from __future__ import annotations

from dbt_json_readr_spark.functions import vectors as V
from dbt_json_readr_spark.operators import dedup as D


def test_bench_gate_and_probe_surface(spark):
    text = "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "zzz completely different qqq")], "doc_id long, text string"
    )
    per_doc = D.per_doc_sketch(docs)
    cand = D._cand_from_mins(per_doc.drop("sh"), 16, 4, D.DEFAULT_BUCKET_CAP)
    n_cand, set_bcast = D._gate_stats(per_doc, cand)
    assert type(n_cand) is int and type(set_bcast) is bool
    assert n_cand == 1 and set_bcast
    assert isinstance(D.DEFAULT_BROADCAST_CAND_CAP, int)
    assert isinstance(D.DEFAULT_SET_BCAST_BYTES_CAP, int)
    assert callable(V.probe_count) and callable(V.probe_width)
