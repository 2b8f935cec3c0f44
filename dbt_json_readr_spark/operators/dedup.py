"""Deduplication operator family (SURVEY.md §2 C1-C5) for LLM-scale
corpus curation, all expressed as DataFrame ops (no Python in the row
path).

Scale design: every variant turns the O(n²) pair space into a
bucket-local join —
- exact:    hash groupBy (one shuffle on the content hash)
- minhash:  LSH banding; only same-band pairs are candidates
- simhash:  byte-banding of the 32-bit sketch (pigeonhole: hamming≤3
            pairs must agree on ≥1 of 4 bands)
- embedding: deterministic sign-bit buckets
Oversized buckets (degenerate content) are capped with an explicit
count filter so one hot bucket cannot quadratic-blow a 100 TB run;
the cap is a visible parameter, not a silent drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import vectors as V
from ..session import evict_cached, rotate_cached, spread

DEFAULT_BUCKET_CAP = 2000
# Per-doc candidate degree cap (r6, VERDICT r5 item 3): the bucket cap
# bounds any ONE bucket, but a dup CLIQUE of m docs still yields
# ~C(m,2) candidate pairs across its buckets — clique-quadratic; sf10's
# adversarial 100-dup cliques drove a 205.9M-pair verify past
# single-node scratch.  Capping each doc to its ``cap`` SMALLEST
# partner ids bounds candidates at n·cap and guarantees the MIN-EDGE
# KERNEL: each doc keeps the edge toward its smallest partner, so a
# CLIQUE's members still reach the clique minimum by monotone-
# descending chains.  On general graphs the guarantee is weaker — a
# bridge edge between two dense clusters is dropped when both
# endpoints rank it beyond the cap, so components CAN split (r6 advice
# finding); pair-level recall inside giant cliques and cross-cluster
# bridges are the documented trade, and every drop is loud
# (per-doc ``capped_doc`` evidence rows).
DEFAULT_DEGREE_CAP = 16
# auto-gate bound for the broadcast-candidates verify shape: 5M pairs
# ≈ 80 MB on the driver / per executor copy — comfortably inside a
# default 1-4 GiB driver, far under spark.sql.autoBroadcastJoinThreshold
# ambitions for explicit broadcasts of this width.
DEFAULT_BROADCAST_CAND_CAP = 5_000_000
# r13: auto-gate bound for broadcasting the per-doc SET side of the
# verify joins instead of the candidate side.  At sf1 the unhinted set
# join degraded to a SortMergeJoin that sorted 4.1M candidate rows
# carrying ~2 KB shingle arrays through an exchange (measured 307
# CPU·s; with both set sides broadcast every join is a BroadcastHash-
# Join and no array ever crosses an exchange — 212 CPU·s, and 107 with
# the eval_once barrier).  The estimate is raw set bytes from a cheap
# aggregate over the CACHED sketch; past the cap the candidate side
# broadcasts as before (r12 posture: the planner handles set joins).
DEFAULT_SET_BCAST_BYTES_CAP = 256 * 1024 * 1024


def eval_once(expr, alias: str):
    """Generate-node barrier around an expensive per-row expression
    (r13, guide §4.4's duplicate-evaluation problem at the expression
    level): a threshold filter over a projected column gets pushed into
    the join condition below it, so the expression (array_intersect
    over ~240-element sets; the unrolled dot) is evaluated TWICE per
    surviving row — once in the condition, once in the projection.
    Exploding a one-element array turns the projection into a Generate
    whose output the filter references, and Catalyst does not push
    predicates past the generator that produces their input — one
    evaluation, same rows, same values.  Measured on the sf1 jaccard
    verify: 228 → 107 CPU·s with join shapes held fixed."""
    return F.explode(F.array(expr)).alias(alias)


def normalize_text(col):
    """lower, trim, collapse whitespace — the canonical form hashed by
    exact dedup."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Content-hash dedup: every doc tagged with its group's canonical
    (min) doc_id.  One shuffle on the 32-hex md5."""
    d = docs.select("doc_id", F.md5(normalize_text(F.col("text"))).alias("content_hash"))
    w = W.partitionBy("content_hash")
    return d.select(
        "doc_id",
        "content_hash",
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_duplicate"),
    )


def _shingle_rows(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, sh) rows: distinct char-k-gram 60-bit hashes, one row
    per shingle.  The explode keeps the md5+conv hashing in whole-stage
    codegen (higher-order functions are CodegenFallback — interpreted);
    only the cheap substr shingling stays inside the HOF."""
    return (
        spread(docs)
        .select("doc_id", F.explode(H.char_shingles(F.col("text"), k)).alias("s"))
        .select("doc_id", H.hash64(F.col("s"), "sh").alias("sh"))
    )


def _minhash_candidates(
    rows: DataFrame, n_hashes: int, bands: int, bucket_cap: int
) -> DataFrame:
    """(doc_a, doc_b) LSH candidate pairs (pre-verification) from
    (doc_id, sh) shingle rows: flat lane mins → band keys → doc_id-only
    buckets → in-bucket pair explode → cross-band dedup."""
    lanes = rows.select("doc_id", *H.minhash_lane_cols(F.col("sh"), n_hashes))
    mins = lanes.groupBy("doc_id").agg(
        *[F.min(f"mh{i}").alias(f"mh{i}") for i in range(n_hashes)]
    )
    return _cand_from_mins(mins, n_hashes, bands, bucket_cap)


def _per_doc_sketch(rows: DataFrame, n_hashes: int, rotate: bool = True) -> DataFrame:
    """One combined pass: per-doc minhash lanes AND the distinct shingle
    set from a single scan + single aggregation.  The sketch and verify
    stages both consume this frame; without the cache each would re-run
    the exploded md5 scan (measured ~1 s of the operator's ~3 s steady
    state at sf0.1).  MEMORY_AND_DISK: per-doc sketch+set is the
    dedup'd shingle corpus — it spills rather than OOMs at scale.
    ``broadcast_verify=True`` (the default) builds this frame and lets
    the gates pick the verify shape; corpora past executor-storage
    comfort should pass ``broadcast_verify=False``, the narrow shape
    that never builds sets at all."""
    from pyspark import StorageLevel

    lanes = rows.select(
        "doc_id", "sh", *H.minhash_lane_cols(F.col("sh"), n_hashes)
    )
    per_doc = lanes.groupBy("doc_id").agg(
        *[F.min(f"mh{i}").alias(f"mh{i}") for i in range(n_hashes)],
        F.collect_set("sh").alias("sh"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # latest-wins rotation keyed per SparkSession (session.rotate_cached):
    # repeated invocations pin at most ONE cached frame per session —
    # same discipline as operators/kmeans.py, regression-tested in
    # tests/test_plans.py.  rotate=False is for callers that pin the
    # sketch in their OWN slot: sweeps that must hold SEVERAL k-levels'
    # sketches live until their one action runs (dedup_k_sweep rotates
    # the whole pinned list, same posture as kmeans' pin_lloyd_handles)
    # and the incremental operator's tagged-union sketch.
    if rotate:
        rotate_cached("minhash_sketch", [per_doc])
    return per_doc


def _cand_from_mins(
    mins: DataFrame, n_hashes: int, bands: int, bucket_cap: int
) -> DataFrame:
    return (
        _band_pairs(mins, n_hashes, bands, bucket_cap)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b")
    )


def _band_pairs(
    mins: DataFrame, n_hashes: int, bands: int, bucket_cap: int
) -> DataFrame:
    """(doc_a, doc_b, band) candidate pairs WITH their band — the
    pre-dedup view _cand_from_mins collapses; kept separate so the
    band-utility evidence key can attribute each pair to the earliest
    band that surfaced it."""
    r = n_hashes // bands
    banded = (
        mins.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            H.band_key_flat(
                                [F.col(f"mh{i}") for i in range(b * r, (b + 1) * r)], b
                            ).alias("bkey"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    )
    members = (
        banded.groupBy("band", "bkey")
        .agg(F.collect_list("doc_id").alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= bucket_cap))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ms"),
                lambda x, i: F.transform(
                    F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
    )
    return members.select("band", pair.alias("p")).select(
        "band",
        F.least("p.a", "p.b").alias("doc_a"),
        F.greatest("p.a", "p.b").alias("doc_b"),
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    k: int = 5,
    n_hashes: int = 16,
    bands: int = 4,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Public pre-verification candidate pairs — the measurable half of
    the LSH recall/cost tradeoff (see plans/llm.py dedup_lsh_recall)."""
    return _minhash_candidates(_shingle_rows(docs, k), n_hashes, bands, bucket_cap)


def shingle_sets(docs: DataFrame, k: int = 5) -> DataFrame:
    """(doc_id, sh: array<long>) distinct hashed shingle sets."""
    return _shingle_rows(docs, k).groupBy("doc_id").agg(
        F.collect_set("sh").alias("sh")
    )


def _gate_stats(
    per_doc: DataFrame, cand: "DataFrame | None"
) -> "tuple[int | None, bool]":
    """The verify family's only eager probe: the candidate count (for
    the ``DEFAULT_BROADCAST_CAND_CAP`` gate) and whether the per-doc
    sets fit ``DEFAULT_SET_BCAST_BYTES_CAP`` (raw bytes ≈ 8 per
    shingle + 24 per doc row), from ONE driver job over the cached
    sketch — a crossJoin of the two one-row aggregates.  Callers with
    no candidate gate pass ``cand=None`` and get ``(None, set_bcast)``
    from the set aggregate alone.  The cap is read from the module at
    call time."""
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(F.size("sh")).alias("tot_sh")
    )
    if cand is not None:
        stats = cand.agg(F.count(F.lit(1)).alias("n_cand")).crossJoin(stats)
    row = stats.first()
    est = (row["tot_sh"] or 0) * 8 + (row["n_docs"] or 0) * 24
    n_cand = None if cand is None else row["n_cand"]
    return n_cand, est <= DEFAULT_SET_BCAST_BYTES_CAP


def _set_overlap(per_doc: DataFrame, cand: DataFrame, set_bcast: bool) -> DataFrame:
    """Overlap counts of every candidate pair against the per-doc
    shingle sets of the cached sketch: ``cand``'s columns plus ``_na``
    and ``_nb`` (set sizes) and ``_inter`` (|A∩B|).  Every set-side
    verify — jaccard, containment, incremental, band utility, the k
    sweep — is a final projection over this frame.

    Side choice (``set_bcast``, from ``_gate_stats``): a small per-doc
    SET frame becomes the broadcast BUILD side of both hash joins and
    the (bigger, cap-bounded) candidate pairs stream — no shingle array
    ever crosses an exchange at ANY candidate volume.  Past the set cap
    the candidates broadcast and the set joins are left to the planner.
    The sf1 evidence for the gate: unhinted, AQE elected a
    SortMergeJoin that sorted 4.1M pair rows carrying ~2 KB arrays
    (19.7 s / 307 CPU·s); set-broadcast + eval_once runs 4.6 s / 107
    CPU·s, identical 250,224 output rows.  The eval_once barrier keeps
    a threshold filter over ``_inter`` from re-evaluating the intersect
    inside the join condition."""
    sets = per_doc.select("doc_id", "sh")
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    if set_bcast:
        joined = cand.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
    else:
        joined = F.broadcast(cand).join(sa, "doc_a").join(sb, "doc_b")
    return joined.select(
        *cand.columns,
        F.size("sh_a").alias("_na"),
        F.size("sh_b").alias("_nb"),
        eval_once(F.size(F.array_intersect("sh_a", "sh_b")), "_inter"),
    )


def _narrow_overlap(rows: DataFrame, cand: DataFrame) -> DataFrame:
    """The all-shuffle counterpart of ``_set_overlap`` for (doc_a,
    doc_b) pairs: the same ``_inter``/``_na``/``_nb`` columns, counted
    by joining the NARROW (doc_id, sh) shingle rows through the pairs.
    Every shuffle is hash-partitioned 24-byte rows — no arrays, nothing
    broadcast, no per-doc sets, no driver-side state — the shape that
    survives corpora whose candidates outgrow the driver or whose
    per-doc sets exceed executor storage."""
    counts = rows.groupBy("doc_id").agg(F.count("*").alias("n"))
    ra = cand.join(rows.select(F.col("doc_id").alias("doc_a"), "sh"), "doc_a")
    ri = ra.join(rows.select(F.col("doc_id").alias("doc_b"), "sh"), ["doc_b", "sh"])
    # left-join back onto cand so zero-intersection candidates keep an
    # _inter=0 row — without it the two shapes diverge for thresholds
    # <= 0 (the set shape emits those rows, an inner join drops them)
    ic = cand.join(
        ri.groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter")),
        ["doc_a", "doc_b"],
        "left",
    ).select("doc_a", "doc_b", F.coalesce("inter", F.lit(0)).alias("_inter"))
    return ic.join(
        counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("_na")), "doc_a"
    ).join(counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("_nb")), "doc_b")


def _plan_overlap(
    rows: DataFrame,
    n_hashes: int,
    bands: int,
    bucket_cap: int,
    broadcast_verify: bool,
    slot: str,
    degree_cap: "int | None" = None,
) -> "tuple[DataFrame, DataFrame | None]":
    """The verify planner of ``minhash_lsh_pairs`` and
    ``minhash_containment_pairs``: LSH candidates from (doc_id, sh)
    rows, optionally degree-capped (``candidate_degree_cap``), turned
    into overlap counts.  Returns ``(overlap, capped_docs)``.

    ``broadcast_verify=True`` picks the shape from data, never from the
    caller's guess: the fused cached sketch supplies lanes AND sets,
    the final candidates are persisted in ``slot`` and ``_gate_stats``
    runs once.  Within ``DEFAULT_BROADCAST_CAND_CAP`` pairs the verify
    reads the cached sets (``_set_overlap``); past it the sketch cache
    is released and the persisted candidates take ``_narrow_overlap``.
    ``broadcast_verify=False`` is the narrow shape outright: no sketch,
    no cache, no probe."""
    per_doc = _per_doc_sketch(rows, n_hashes) if broadcast_verify else None
    if per_doc is None:
        cand = _minhash_candidates(rows, n_hashes, bands, bucket_cap)
    else:
        cand = _cand_from_mins(per_doc.drop("sh"), n_hashes, bands, bucket_cap)
    capped_docs = None
    if degree_cap is not None:
        cand, capped_docs = candidate_degree_cap(cand, degree_cap)
    if per_doc is not None:
        # the candidates feed the gate count AND the verify joins — pin
        # them so the count action is not replayed by the verify
        cand = cand.persist()
        rotate_cached(slot, [cand])
        n_cand, set_bcast = _gate_stats(per_doc, cand)
        if n_cand <= DEFAULT_BROADCAST_CAND_CAP:
            return _set_overlap(per_doc, cand, set_bcast), capped_docs
        # bailing to the narrow shape: the sets will not be read —
        # release the sketch cache AND clear its slot registration
        # (evict_cached, ADVICE r12: a bare unpersist left a dead
        # handle in 'minhash_sketch')
        evict_cached("minhash_sketch", per_doc)
    return _narrow_overlap(rows, cand), capped_docs


def _jaccard() -> "F.Column":
    """Jaccard over an overlap frame's counts: |A∪B| = |A|+|B|−|A∩B|
    on distinct sets — numerically identical to size(array_union)."""
    return (
        F.col("_inter").cast("double")
        / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double")
    ).alias("jaccard")


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 5,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    broadcast_verify: bool = True,
) -> DataFrame:
    """Near-dup candidate pairs via minhash LSH, verified with exact
    shingle jaccard.  rows/band = n_hashes//bands; P(candidate) ≈
    1-(1-j^r)^b.  ``threshold`` must sit in that curve's high-recall
    region or the verified output is an arbitrary sample of the sub-τ
    candidate tail — plans/llm.py dedup_lsh_recall measures exactly
    this, and re-anchored the default from 0.25 (1.6% recall) to 0.8.

    Scale shape (ONE cached corpus pass on the default path, codegen'd,
    no fat buckets):
    1. fused sketch pass — exploded shingle rows → flat 32-bit minhash
       lanes (functions/hashing.py) → a single groupBy(doc_id)
       computing the lane MINs AND collect_set(sh) together, persisted
       (latest-wins rotation, ≤1 pinned frame) so the band stage and
       the verify stage share one scan+agg.
    2. band buckets collect ONLY doc_ids (≤ bucket_cap × 8 bytes per
       bucket — a degenerate bucket buffers kilobytes, not the
       shingle-array megabytes of a struct-collecting formulation),
       pairs are deduped across bands BEFORE verification.
    3. verify — exact jaccard for the candidate pairs only, planned by
       ``_plan_overlap``: ``broadcast_verify=True`` (default) gates
       the shape from data (cached-set joins within the candidate cap,
       the narrow all-shuffle counting past it);
       ``broadcast_verify=False`` runs the narrow shape outright, for
       scales where even the cached sketch is unaffordable — it keeps
       TWO uncached corpus passes but touches nothing but narrow
       rows."""
    overlap, _ = _plan_overlap(
        _shingle_rows(docs, k), n_hashes, bands, bucket_cap, broadcast_verify, "minhash_cand"
    )
    return overlap.select("doc_a", "doc_b", _jaccard()).filter(F.col("jaccard") >= threshold)


def minhash_incremental_pairs(
    base: DataFrame,
    incoming: DataFrame,
    k: int = 5,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Incremental-ingest dedup: near-dup pairs that TOUCH the incoming
    batch — incoming↔base and incoming↔incoming — WITHOUT re-pairing
    the base corpus against itself.  The production shape for a corpus
    that grows by batches: the base×base pair space (the quadratic bulk
    a full re-run would redo every ingest) is never generated, because
    the in-bucket pair explode keeps only pairs with ≥1 incoming
    member.

    Same banding, caps, and jaccard verify as minhash_lsh_pairs, so the
    full-pipeline oracle filtered to incoming-touching pairs is the
    correctness contract (plans/llm.py dedup_incremental).  Buckets
    collect (doc_id, is_inc) — 16 B per member, still cap-bounded.
    Returns (doc_a, doc_b, jaccard, pair_type) with pair_type
    'cross' (base↔incoming) or 'new' (incoming↔incoming)."""
    tagged = base.select("doc_id", "text").withColumn(
        "is_inc", F.lit(False)
    ).unionByName(incoming.select("doc_id", "text").withColumn("is_inc", F.lit(True)))
    flags = tagged.select("doc_id", "is_inc")
    # the fused sketch feeds the band stage AND both verify set sides —
    # one scan+agg instead of three.  Its OWN rotation slot: the
    # tagged-union input plan is never sameSemantics with the plain
    # corpus sketch, so sharing 'minhash_sketch' would evict the entry
    # every other dedup key in the session reads.
    per_doc = _per_doc_sketch(_shingle_rows(tagged, k), n_hashes, rotate=False)
    rotate_cached("minhash_sketch_inc", [per_doc])
    mins = per_doc.drop("sh").join(flags, "doc_id")
    r = n_hashes // bands
    banded = (
        mins.select(
            "doc_id",
            "is_inc",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            H.band_key_flat(
                                [F.col(f"mh{i}") for i in range(b * r, (b + 1) * r)], b
                            ).alias("bkey"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select("doc_id", "is_inc", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    )
    members = (
        banded.groupBy("band", "bkey")
        .agg(F.collect_list(F.struct("doc_id", "is_inc")).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= bucket_cap))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ms"),
                lambda x, i: F.filter(
                    F.transform(
                        F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                    lambda p: p["a"]["is_inc"] | p["b"]["is_inc"],
                ),
            )
        )
    )
    cand = (
        members.select(pair.alias("p"))
        .select(
            F.least("p.a.doc_id", "p.b.doc_id").alias("doc_a"),
            F.greatest("p.a.doc_id", "p.b.doc_id").alias("doc_b"),
            (F.col("p.a.is_inc") & F.col("p.b.is_inc")).alias("both_inc"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # same set-side verify as the full LSH; no candidate gate here
    _, set_bcast = _gate_stats(per_doc, None)
    return (
        _set_overlap(per_doc, cand, set_bcast)
        .select(
            "doc_a",
            "doc_b",
            _jaccard(),
            F.when(F.col("both_inc"), F.lit("new")).otherwise(F.lit("cross")).alias("pair_type"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_values(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): flat simhash — explode (non-distinct) tokens,
    hash each once in whole-stage codegen, then 32 conditional-sum vote
    columns with map-side partial aggregation.  The array-HOF
    formulation (functions/hashing.py simhash32) is 32 interpreted
    F.aggregate passes per doc and benches ~5× slower."""
    tok = spread(docs).select(
        "doc_id", F.explode(H.tokens(F.col("text"))).alias("t")
    )
    votes = tok.select("doc_id", H.hash64(F.col("t"), "sim").alias("h")).groupBy(
        "doc_id"
    ).agg(
        *[
            F.sum(
                F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(32)
        ]
    )
    return votes.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"v{j}") > 0, F.lit(2**j).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                for j in range(32)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )


def simhash_band_pairs(
    docs: DataFrame,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    max_hamming: int | None = None,
) -> DataFrame:
    """All same-band candidate pairs with their exact hamming distance
    (pre-threshold) — the measurable half of the banding guarantee.

    ``max_hamming`` (r13, guide §2.2 — shuffle fewer bytes): when the
    caller will threshold anyway (simhash_pairs), the filter is applied
    BEFORE the cross-band dropDuplicates.  hamming is functionally
    determined by the pair (same two simhashes wherever the pair
    recurs), so filter-then-dedup emits exactly dedup-then-filter's
    rows — but the dedup exchange shuffles the few surviving pairs
    instead of every same-band candidate (~3M rows at sf0.1, birthday
    pairs over 256 byte-values, nearly all hamming > 3)."""
    sims = simhash_values(docs)
    banded = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255)).alias("bval"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    # groupBy + in-bucket explode: one sketch computation and one
    # shuffle instead of a per-side recompute self-join (see
    # minhash_lsh_pairs) — simhash32 is 32 F.aggregate passes per doc,
    # so computing it once matters even more here
    members = (
        banded.groupBy("band", "bval")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= bucket_cap))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ms"),
                lambda x, i: F.transform(
                    F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
    )
    scored = members.select(pair.alias("p")).select(
        F.least("p.a.doc_id", "p.b.doc_id").alias("doc_a"),
        F.greatest("p.a.doc_id", "p.b.doc_id").alias("doc_b"),
        H.hamming32(F.col("p.a.simhash"), F.col("p.b.simhash")).alias("hamming"),
    )
    if max_hamming is not None:
        scored = scored.filter(F.col("hamming") <= max_hamming)
    return scored.dropDuplicates(["doc_a", "doc_b"])


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, bucket_cap: int = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """Near-dup pairs whose 32-bit simhash hamming distance ≤ 3; the four
    8-bit bands guarantee recall by pigeonhole (any pair with ≤3
    differing bits agrees on ≥1 band — dedup_lsh_recall measures this).
    Band buckets above ``bucket_cap`` are excluded before pairing — same
    quadratic guard as minhash (a degenerate band value must not O(n²)
    the run)."""
    # threshold pushed below the cross-band dedup (see
    # simhash_band_pairs max_hamming) — identical rows, the dedup
    # exchange carries only the surviving near-dup pairs
    return simhash_band_pairs(docs, bucket_cap, max_hamming=max_hamming)


def token_jaccard_pairs(
    docs: DataFrame,
    block_col: str = "lang",
    threshold: float = 0.9,
    block_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Exact token-set jaccard within a blocking column — the precise
    (non-sketch) dedup for short docs; blocking bounds the pair space
    and ``block_cap`` hard-bounds it: a block bigger than the cap is
    excluded (use a finer blocking key instead of letting one block go
    quadratic over the corpus)."""
    t = spread(docs).select(
        "doc_id", F.col(block_col).alias("block"), F.array_distinct(H.tokens(F.col("text"))).alias("tok")
    )
    # block-size cap as a window count (one pass), then the TILED pair
    # explode (r13, _tiled_member_pairs): the old per-block flatten ran
    # each block's C(m,2) pairs — full token arrays attached — in ONE
    # task (sf0.1 measured ~2 effective cores on 32)
    sized = t.withColumn(
        "bn", F.count(F.lit(1)).over(W.partitionBy("block"))
    ).filter((F.col("bn") >= 2) & (F.col("bn") <= block_cap))
    pairs = _tiled_member_pairs(
        sized,
        ["block"],
        F.pmod(F.col("doc_id"), F.lit(PAIR_TILES)),
        F.struct("doc_id", "tok"),
        "token_block_tiles",
    )
    # |A∪B| = |A|+|B|−|A∩B| (exact on the distinct token sets — r13,
    # same identity as the minhash verify) and the eval_once barrier so
    # the threshold filter does not re-evaluate the intersect below the
    # projection (the pair Generate blocks pushdown of the predicate
    # but not the duplicate evaluation in a pushed-through filter)
    return (
        pairs.select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            F.size("a.tok").alias("_na"),
            F.size("b.tok").alias("_nb"),
            eval_once(F.size(F.array_intersect("a.tok", "b.tok")), "_inter"),
        )
        .select("doc_a", "doc_b", _jaccard())
        .filter(F.col("jaccard") >= threshold)
    )


EMB_BUCKET_DIMS = [0, 7, 19, 31]

# Banded sign-LSH for the dedup path: 4 independent 4-bit bucket tables
# (disjoint fixed dims, no RNG — byte-reproducible across engines).  One
# 4-bit table measures 0.18 candidate recall at cos≥0.4 on this corpus
# (dedup_lsh_recall r2); OR-ing B tables lifts recall to 1-(1-p)^B at
# B× the bucket-join volume — the same curve logic as minhash banding.
EMB_BANDS = [
    EMB_BUCKET_DIMS,
    [3, 11, 23, 40],
    [45, 50, 55, 60],
    [13, 27, 37, 58],
]


def embedding_bucket(vec, dims: list[int] | None = None) -> F.Column:
    """Deterministic 4-bit sign-LSH bucket over fixed dims (default:
    EMB_BUCKET_DIMS — the single-table bucketing the ANN speed path
    uses)."""
    out = F.lit(0)
    for i, d in enumerate(dims or EMB_BUCKET_DIMS):
        out = out + F.when(vec.getItem(d) >= 0, F.lit(2**i)).otherwise(F.lit(0))
    return out.cast("int")


# Tile count for the quadratic in-bucket pair explodes below.  A
# capped bucket's C(2000,2) ≈ 2M pairs used to materialize as ONE
# flattened array in ONE task (measured at the 10× replica set: 45.7M
# embedding candidates, 62 s wall at ~2 effective cores — classic
# straggler, guide §2.5; the token-jaccard blocks showed the same
# 2-effective-core profile at sf0.1).  Tiling splits each bucket into
# TILE deterministic id-modulo groups; pairs = within-tile (i<j) plus
# the C(TILE,2) cross-tile products, each its own row stream —
# parallelism ≈ TILE² per hot bucket, no megabyte array ever built.
# Same pair SET exactly: every in-bucket pair lives in exactly one
# tile combination.
PAIR_TILES = 8


def _tiled_member_pairs(
    members: DataFrame,
    keys: "list[str]",
    g: "F.Column",
    item: "F.Column",
    slot: str,
    tiles: int = PAIR_TILES,
) -> DataFrame:
    """All unordered within-key pairs ``(a, b)`` of ``item`` rows,
    tiled (see PAIR_TILES).  ``members`` holds one row per (keys…,
    item); the caller must already have bounded the per-key member
    count (bucket/block cap) — tiling changes PARALLELISM, never the
    pair set.  The tile frame is persisted (three subtrees read it:
    within-pairs and both cross sides) under latest-wins rotation."""
    from pyspark import StorageLevel

    grouped = (
        members.withColumn("_g", g.cast("int"))
        .groupBy(*keys, "_g")
        .agg(F.collect_list(item).alias("ms"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rotate_cached(slot, [grouped])
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ms"),
                lambda x, i: F.transform(
                    F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
    )
    within = grouped.select(pair.alias("p")).select(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )
    ga = grouped.select(*keys, F.col("_g").alias("ga"), F.col("ms").alias("msa"))
    gb = grouped.select(*keys, F.col("_g").alias("gb"), F.col("ms").alias("msb"))
    cross = (
        ga.join(gb, keys)
        .filter(F.col("ga") < F.col("gb"))
        # the join keys collapse a bucket's C(TILE,2) tile rows into one
        # partition; redistribute by the full tile key BEFORE the
        # explodes so each tile's product runs in its own task
        .repartition(*[F.col(k) for k in keys], F.col("ga"), F.col("gb"))
        .select(F.explode("msa").alias("a"), "msb")
        .select("a", F.explode("msb").alias("b"))
    )
    return within.unionByName(cross)


def embedding_candidate_pairs(
    embs: DataFrame, bucket_cap: int = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """(vec_a, vec_b) banded sign-LSH candidates (pre-verification):
    same-bucket in ANY of the EMB_BANDS tables, buckets collect bare
    vec_ids (cap × 8 bytes per tile), pairs deduped across bands.  The
    quadratic in-bucket explode is TILED (_tiled_member_pairs) so a
    cap-sized bucket parallelizes instead of running in one task."""
    e = spread(embs).select("vec_id", F.col("embedding").alias("emb"))
    banded = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        embedding_bucket(F.col("emb"), dims).alias("bval"),
                    )
                    for b, dims in enumerate(EMB_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    # bucket-size filter as a window count — ONE pass over banded (an
    # agg+join back would scan the corpus twice)
    sized = banded.withColumn(
        "bn", F.count(F.lit(1)).over(W.partitionBy("band", "bval"))
    ).filter((F.col("bn") >= 2) & (F.col("bn") <= bucket_cap))
    pairs = _tiled_member_pairs(
        sized,
        ["band", "bval"],
        F.pmod(F.col("vec_id"), F.lit(PAIR_TILES)),
        F.col("vec_id"),
        "emb_band_tiles",
    )
    return (
        pairs.select(
            F.least("a", "b").alias("vec_a"),
            F.greatest("a", "b").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )


def embedding_cosine_pairs(
    embs: DataFrame,
    threshold: float = 0.4,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    broadcast_verify: bool = True,
) -> DataFrame:
    """Near-dup embedding pairs with cosine ≥ threshold, candidates from
    banded sign-LSH (see embedding_candidate_pairs), verified by exact
    cosine.

    ``broadcast_verify=True`` (default) gates the verify side from data
    (r13, the vector analogue of the minhash side gate): when the
    per-vector frame estimates under ``DEFAULT_SET_BCAST_BYTES_CAP``
    (bytes ≈ rows · (8·width + 24), from the cached plan-build probes —
    no extra job), BOTH vector sides broadcast as hash-join BUILD sides
    and the candidate pairs STREAM — candidates are clique-quadratic
    (the 10× replica set measured 45.7M, a ~0.7 GB broadcast) while the
    vectors grow only linearly; past the cap the candidate side
    broadcasts.  ``broadcast_verify=False`` puts no broadcast hint
    anywhere: plain shuffle joins with the vectors hash-partitioned on
    vec_id — the shape for drivers too tight for either broadcast."""
    cand = embedding_candidate_pairs(embs, bucket_cap)
    # r13: width-unrolled codegen dot (bit-identical left fold) and the
    # eval_once barrier so the threshold filter does not re-evaluate the
    # dot in the join condition — same rows, one fold per pair
    width = V.probe_width(embs)
    vec_bcast = (
        broadcast_verify
        and width is not None
        and V.probe_count(embs) * (8 * width + 24) <= DEFAULT_SET_BCAST_BYTES_CAP
    )
    if broadcast_verify and not vec_bcast:
        cand = F.broadcast(cand)
    vecs = spread(embs).select(
        "vec_id", V.to_double(F.col("embedding")).alias("v")
    ).withColumn("n", V.norm_w("v", width))
    va = vecs.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    vb = vecs.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    if vec_bcast:
        va, vb = F.broadcast(va), F.broadcast(vb)
    return (
        cand
        .join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            "na",
            "nb",
            eval_once(V.dot_w("va", "vb", width), "dp"),
        )
        .select(
            "vec_a",
            "vec_b",
            (F.col("dp") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def candidate_degree_cap(
    cand: DataFrame, cap: int
) -> tuple[DataFrame, DataFrame]:
    """Bound the per-doc candidate degree: each doc nominates its
    ``cap`` SMALLEST partner ids; a pair is dropped only when NEITHER
    endpoint nominated it.  Total kept pairs ≤ n·cap (each doc
    nominates ≤ cap).  Guarantee = the MIN-EDGE KERNEL: each doc keeps
    its smallest-partner edge, so cliques stay connected under min-id
    clustering.  On general graphs an inter-cluster BRIDGE edge is
    dropped when both endpoints rank it beyond the cap, so components
    can split — the capped_docs evidence rows are the signal.  (The
    stricter both-ends rule would bound at n·cap/2 but ISOLATES
    high-id clique members — their low-id partners don't reciprocate —
    which breaks the clustering the pairs feed; unit-pinned.)

    Returns (kept_pairs, capped_docs); capped_docs carries
    (doc, degree, n_dropped_partners) evidence for every doc that
    actually lost partners.  Deterministic (partner-id order is total)
    so a SQL oracle replays it with a row_number window.

    Nomination is a TWO-STAGE top-k aggregate, not a window sort
    (r6 VERDICT item 5: the row_number formulation totally sorted
    the full 2×-pair directed set per doc partition and cost 479.9 s
    of sf10's 658.7 s verify).  Stage 1 keys on (doc, input-partition)
    and slices each group to its ``cap`` smallest partners; stage 2
    merges the per-partition top-ks — any globally-top-cap partner is
    within the top cap of its own partition, so the merge is lossless
    (classic two-phase top-k).  NOTE the exchange is NOT size-bounded:
    slice/array_sort are final-projection expressions, so the partial
    collect_list buffers crossing stage 1's exchange still carry each
    doc's full per-partition degree (total bytes ≈ the directed set
    itself, grouped into arrays — no blowup, but no reduction either).
    The measured 2× sf10 win comes from replacing the per-doc TOTAL
    sort with per-group array sorts of already-complete groups."""
    # the candidate set feeds FOUR subtrees here (nomination, kept
    # semi-join, dropped anti-join, degree evidence) and the caller's
    # overlap-count joins after that — without a pin each one replays
    # the whole LSH bucket join upstream.  Rows are two longs (~16 B);
    # even sf10's 159M pre-cap candidates fit MEMORY_AND_DISK
    # comfortably (same pattern as the auto-gated verify path above).
    # rotate_cached bounds live handles to one per session slot — a
    # bare persist leaked one pinned entry per distinct input (caught
    # by the r7 close review: the hypothesis property test alone calls
    # this with dozens of distinct graphs in one session).
    from pyspark import StorageLevel

    cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    rotate_cached("degree_cap_cand", [cand])
    directed = cand.select(
        F.col("doc_a").alias("doc"), F.col("doc_b").alias("partner")
    ).unionAll(cand.select(F.col("doc_b"), F.col("doc_a")))
    # stage 1: per-input-partition smallest-cap partner ids per doc
    part_topk = (
        directed.withColumn("pid", F.spark_partition_id())
        .groupBy("doc", "pid")
        .agg(
            F.slice(F.array_sort(F.collect_list("partner")), 1, cap).alias(
                "partners"
            )
        )
    )
    # stage 2: merge partition top-ks (candidate pairs are deduped, so
    # partner ids never repeat across partitions for one doc)
    nominated = (
        part_topk.select("doc", F.explode("partners").alias("partner"))
        .groupBy("doc")
        .agg(
            F.slice(F.array_sort(F.collect_list("partner")), 1, cap).alias(
                "partners"
            )
        )
        .select("doc", F.explode("partners").alias("partner"))
    )
    # a pair is kept ⇔ EITHER direction was nominated: fold the
    # nominated directed edges to undirected pairs once (≤ n·cap rows,
    # dropDuplicates is a bounded shuffle) and semi/anti-join the pair
    # set against them — pair-cardinality joins, not 2×-directed ones
    nom_pairs = nominated.select(
        F.least("doc", "partner").alias("doc_a"),
        F.greatest("doc", "partner").alias("doc_b"),
    ).dropDuplicates(["doc_a", "doc_b"])
    # nom_pairs feeds BOTH the kept semi-join and the dropped anti-join
    # (plus the evidence rollup behind it) — without a pin each consumer
    # replays the full two-stage nomination aggregate (r12; ~6 shuffle
    # stages per replay).  Bounded at n·cap 16-byte rows by
    # construction, so MEMORY_AND_DISK is safe at any scale.
    nom_pairs = nom_pairs.persist(StorageLevel.MEMORY_AND_DISK)
    rotate_cached("degree_cap_nom", [nom_pairs])
    kept = cand.join(nom_pairs, ["doc_a", "doc_b"], "left_semi")
    degrees = directed.groupBy("doc").agg(F.count(F.lit(1)).alias("degree"))
    # per-doc drop accounting WITHOUT materializing the dropped pair
    # set (r12): a doc's lost-partner count is exactly its candidate
    # degree minus its kept degree — two narrow aggregates and a join
    # instead of the anti-join + 2×-union rollup the r11 shape ran
    # (same rows, ~4 fewer shuffle stages on the evidence path)
    kept_degrees = (
        kept.select(F.col("doc_a").alias("doc"))
        .unionAll(kept.select(F.col("doc_b")))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("kept_degree"))
    )
    capped_docs = (
        degrees.join(kept_degrees, "doc", "left")
        .select(
            "doc",
            "degree",
            (
                F.col("degree") - F.coalesce("kept_degree", F.lit(0))
            ).alias("n_dropped_partners"),
        )
        .filter(F.col("n_dropped_partners") > 0)
    )
    return kept, capped_docs


def minhash_containment_pairs(
    docs: DataFrame,
    k: int = 5,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.6,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    degree_cap: int | None = DEFAULT_DEGREE_CAP,
    evidence: bool = False,
    broadcast_verify: bool = True,
) -> DataFrame:
    """Directed shingle containment over minhash-LSH band candidates —
    the asymmetric-overlap generalization of ``minhash_lsh_pairs``,
    planned by the SAME ``_plan_overlap`` after the degree cap:

    - ``broadcast_verify=True`` (default): the fused ``_per_doc_sketch``
      scan+agg supplies lanes AND shingle sets from ONE cached corpus
      pass; the post-cap candidates are persisted and gated — within
      ``DEFAULT_BROADCAST_CAND_CAP`` they verify against the cached
      sets, past it through the narrow shape.  (The r11 narrow-only
      shape re-ran the exploded md5 scan four times and AQE broadcast
      the full multi-million-row EXPLODED shingle frame twice: 7.1 s
      wall / 92 CPU·s at sf0.1 vs the jaccard path's 7.7 CPU·s on the
      same sketch.)  With the default degree cap the candidate count
      is ≤ n·cap, so the cap is reached only past ~300M docs.
    - ``broadcast_verify=False``: the narrow all-shuffle shape outright
      — intersection sizes from joining (doc_id, sh) 24-byte rows
      through the pairs, set sizes from a per-doc count; nothing
      broadcasts, nothing wide moves.

    Returns (doc_a, doc_b, inter_n, cont_a_in_b, cont_b_in_a) for
    pairs with max containment ≥ τ, plus loud ``capped_doc`` evidence
    rows when ``evidence`` and a degree cap are set — identical values
    from both shapes (the parity test pins it)."""
    overlap, capped_docs = _plan_overlap(
        _shingle_rows(docs, k),
        n_hashes,
        bands,
        bucket_cap,
        broadcast_verify,
        "containment_kept",
        degree_cap,
    )
    pairs = overlap.select(
        "doc_a",
        "doc_b",
        F.col("_inter").cast("int").alias("inter_n"),
        (F.col("_inter").cast("double") / F.col("_na").cast("double")).alias("cont_a_in_b"),
        (F.col("_inter").cast("double") / F.col("_nb").cast("double")).alias("cont_b_in_a"),
    ).filter(F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a")) >= threshold)
    if not evidence:
        return pairs
    tagged = pairs.select(
        F.lit("pair").alias("status"),
        "doc_a", "doc_b", "inter_n", "cont_a_in_b", "cont_b_in_a",
        F.lit(None).cast("long").alias("degree"),
        F.lit(None).cast("long").alias("n_dropped_partners"),
    )
    if capped_docs is None:
        return tagged
    ev = capped_docs.select(
        F.lit("capped_doc").alias("status"),
        F.col("doc").alias("doc_a"),
        F.lit(None).cast(pairs.schema["doc_b"].dataType).alias("doc_b"),
        F.lit(None).cast("int").alias("inter_n"),
        F.lit(None).cast("double").alias("cont_a_in_b"),
        F.lit(None).cast("double").alias("cont_b_in_a"),
        F.col("degree").cast("long").alias("degree"),
        F.col("n_dropped_partners").cast("long").alias("n_dropped_partners"),
    )
    return tagged.unionByName(ev)


def shingle_rows(docs: DataFrame, k: int = 5) -> DataFrame:
    """Public (doc_id, sh) hashed-shingle rows — the narrow corpus
    representation every sketch op builds on (estimator-calibration
    evidence key consumes it directly)."""
    return _shingle_rows(docs, k)


def per_doc_sketch(docs: DataFrame, k: int = 5, n_hashes: int = 16) -> DataFrame:
    """Public per-doc minhash sketch (mh0..mhN lanes + shingle set).
    Same canonical plan as the frame ``minhash_lsh_pairs`` builds and
    caches internally, so a caller computing BOTH (e.g. the estimator-
    calibration key) shares ONE cache entry via the CacheManager's
    same-plan dedup instead of re-scanning the corpus."""
    return _per_doc_sketch(_shingle_rows(docs, k), n_hashes)
