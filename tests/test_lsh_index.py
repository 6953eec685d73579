"""Materialized LSH index (operators/lsh_index.py): build-once code
columns, bit-compare query path, equivalence with the inline multi-probe
ANN, and the cost shape (no dot products at query time)."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from delta_lake_optimizations_spark.catalog import load_table
from delta_lake_optimizations_spark.operators.lsh_index import (
    N_PLANES,
    N_TABLES,
    ann_topk_from_index,
    build_lsh_index,
    lsh_index_frame,
    query_codes,
)
from delta_lake_optimizations_spark.operators.similarity import (
    ann_topk_multiprobe,
    embedding_dim,
    query_vector,
)

from .conftest import SF_DIR


@pytest.mark.slow  # equality twins also driver-checked in-window
def test_indexed_ann_equals_inline_multiprobe(spark, tmp_path):
    """Same planes -> same codes -> identical candidate set and result."""
    emb = load_table(spark, SF_DIR, "embeddings")
    dim = embedding_dim(SF_DIR)
    t = build_lsh_index(spark, emb, os.path.join(tmp_path, "idx"), dim)
    indexed = t.load()
    for vid in (0, 3, 7):
        qv = query_vector(spark, SF_DIR, vid)
        inline = [(r[0], r[1]) for r in ann_topk_multiprobe(emb, qv, k=10).collect()]
        from_idx = [(r[0], r[1]) for r in ann_topk_from_index(indexed, qv, k=10).collect()]
        assert inline == from_idx, f"vec {vid}: index diverges from inline"


def test_index_is_commit_logged_and_narrow(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    dim = embedding_dim(SF_DIR)
    t = build_lsh_index(spark, emb, os.path.join(tmp_path, "idx"), dim)
    snap = t.snapshot()
    assert snap.version == 0
    assert snap.properties["graft.lsh.nTables"] == str(N_TABLES)
    cols = set(t.load().columns)
    assert {"vec_id", "embedding"} <= cols
    assert {f"lsh_code_{i}" for i in range(N_TABLES)} <= cols


def test_query_codes_match_stored_codes(spark):
    """The driver-side query-code arithmetic must agree with the JVM
    expression codes for the same vector (else candidates are garbage)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    dim = embedding_dim(SF_DIR)
    frame = lsh_index_frame(emb, dim)
    row = frame.filter(F.col("vec_id") == 5).first()
    qc = query_codes([float(x) for x in row["embedding"]])
    stored = [row[f"lsh_code_{t}"] for t in range(N_TABLES)]
    assert qc == stored


def test_query_plan_has_no_dot_products(spark, tmp_path):
    """The scale claim: at query time the candidate filter is pure integer
    bit math on stored columns — the plan must not contain the aggregate-
    based dot-product expression the inline path uses."""
    emb = load_table(spark, SF_DIR, "embeddings")
    dim = embedding_dim(SF_DIR)
    t = build_lsh_index(spark, emb, os.path.join(tmp_path, "idx"), dim)
    qv = query_vector(spark, SF_DIR, 0)
    plan = (
        ann_topk_from_index(t.load(), qv, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    inline_plan = (
        ann_topk_multiprobe(emb, qv, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the inline path folds a dot product per plane via aggregate() (16
    # tables x 12 planes = 192 of them); the indexed path may only carry
    # the re-rank cosine (dot + two norms) and must bit-compare stored codes
    assert plan.count("aggregate(") <= 4, "re-rank cosine only, no per-plane dots"
    assert inline_plan.count("aggregate(") > 100, "inline path shape changed?"
    assert "bit_count" in plan


def test_vectorized_codes_bit_identical_to_expression_fold(spark):
    """The numpy build path must produce codes BITWISE identical to the
    expression-fold reference (same float64 ops in the same order); a
    single differing bit would silently change candidate sets."""
    from delta_lake_optimizations_spark.operators.lsh_index import (
        lsh_index_frame_expr,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    dim = embedding_dim(SF_DIR)
    fast = {r["vec_id"]: r for r in lsh_index_frame(emb, dim).collect()}
    ref = {r["vec_id"]: r for r in lsh_index_frame_expr(emb, dim).collect()}
    assert fast.keys() == ref.keys()
    for vid in ref:
        got = [fast[vid][f"lsh_code_{t}"] for t in range(N_TABLES)]
        want = [ref[vid][f"lsh_code_{t}"] for t in range(N_TABLES)]
        assert got == want, f"vec {vid}: vectorized codes diverge"


@pytest.mark.slow  # equality twins also driver-checked in-window
def test_sharded_index_equals_inline_h1(spark, tmp_path):
    """Sharded probe (one tc-IN pruned load) must return exactly the
    inline multi-probe result at the same (tables, planes, Hamming<=1)
    dial — the probe buckets enumerate precisely the codes within
    distance 1 for each of the sharded table count."""
    from delta_lake_optimizations_spark.operators.lsh_index import (
        N_TABLES_SHARDED,
        build_lsh_sharded_index,
        ann_topk_from_sharded,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    dim = embedding_dim(SF_DIR)
    t = build_lsh_sharded_index(spark, emb, os.path.join(tmp_path, "sidx"), dim)
    for vid in (0, 7):
        qv = query_vector(spark, SF_DIR, vid)
        inline = [
            (r[0], r[1])
            for r in ann_topk_multiprobe(
                emb, qv, k=10, n_tables=N_TABLES_SHARDED, probe_hamming=1
            ).collect()
        ]
        sharded = [
            (r[0], r[1]) for r in ann_topk_from_sharded(t, qv, k=10).collect()
        ]
        assert inline == sharded, f"vec {vid}: sharded diverges from inline h=1"


def test_sharded_probe_prunes_files(spark, tmp_path):
    """The IO claim: a point-bucket probe (h=0) reads only the shard(s)
    whose tc range contains the bucket — a small fraction of the index
    files — and the full h=1 multiprobe reads strictly fewer files than a
    full scan, with the ratio improving as shard count grows."""
    from delta_lake_optimizations_spark.operators.lsh_index import (
        N_PLANES,
        build_lsh_sharded_index,
        query_codes,
        sharded_probe_files_scanned,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    dim = embedding_dim(SF_DIR)
    t = build_lsh_sharded_index(
        spark, emb, os.path.join(tmp_path, "sidx"), dim, n_shards=128
    )
    total = len(t.snapshot().files)
    assert total >= 64, f"expected many shards, got {total}"
    qv = query_vector(spark, SF_DIR, 0)

    # h=0 single-bucket point probe: one tc -> the one shard covering it
    tc0 = query_codes(qv)[0]  # table 0 -> tc == code
    point = t.files_scanned(skip_where=[("tc", "=", tc0)])
    assert point <= max(2, total // 32), f"point probe read {point}/{total} files"

    # full h=1 multiprobe: 8 tables x 13 buckets can touch at most 104
    # shards; must be a strict subset of the index
    probed = sharded_probe_files_scanned(t, qv)
    assert probed <= min(8 * 13, total), f"probe read {probed}/{total}"
    assert probed < total, "probe must prune vs full scan"


def test_sharded_index_append_then_optimize(spark, tmp_path):
    """Incremental ingest: append postings for new vectors (no rebuild),
    probe stays EXACTLY equivalent to the inline path over the union;
    OPTIMIZE zorder-by-tc then restores tight per-file ranges so the
    probe's file count drops back down."""
    from pyspark.sql import functions as F

    from delta_lake_optimizations_spark.operators.lsh_index import (
        N_TABLES_SHARDED,
        append_to_lsh_sharded_index,
        build_lsh_sharded_index,
        ann_topk_from_sharded,
        sharded_probe_files_scanned,
    )
    from delta_lake_optimizations_spark.table import optimize

    emb = load_table(spark, SF_DIR, "embeddings")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    t = build_lsh_sharded_index(
        spark, first, os.path.join(tmp_path, "sidx"), embedding_dim(SF_DIR),
        n_shards=64,
    )
    append_to_lsh_sharded_index(t, second)

    qv = query_vector(spark, SF_DIR, 0)
    inline = [
        (r[0], r[1])
        for r in ann_topk_multiprobe(
            emb, qv, k=10, n_tables=N_TABLES_SHARDED, probe_hamming=1
        ).collect()
    ]
    got = [(r[0], r[1]) for r in ann_topk_from_sharded(t, qv, k=10).collect()]
    assert got == inline, "append broke probe equivalence"

    before = sharded_probe_files_scanned(t, qv)
    total_before = len(t.snapshot().files)
    optimize(t, zorder_by=["tc"], target_files=64)
    after = sharded_probe_files_scanned(t, qv)
    total_after = len(t.snapshot().files)
    # re-clustering must not degrade the probed FRACTION (exact file
    # counts differ by shard-boundary placement); equivalence re-checked
    assert after / total_after <= before / total_before + 0.05, (
        before, total_before, after, total_after,
    )
    got2 = [(r[0], r[1]) for r in ann_topk_from_sharded(t, qv, k=10).collect()]
    assert got2 == inline, "optimize changed probe results"


def test_ranked_probe_lists_are_best_first():
    """Margin-ranked probe enumeration (Multi-Probe LSH): per table the
    list starts at the exact code, contains ``budget`` distinct codes, and
    its flip-score sequence is nondecreasing AND equal to the brute-force
    best-``budget`` scores over all 2^planes flip sets — i.e. the heap
    scheme provably yields the most plausible buckets first."""
    import random

    from delta_lake_optimizations_spark.operators.lsh_index import (
        query_margins,
        ranked_probe_lists,
    )

    random.seed(11)
    qv = [random.gauss(0, 1) for _ in range(16)]
    n_tables, n_planes, budget = 3, 8, 37
    lists = ranked_probe_lists(qv, budget, n_tables, n_planes)
    for t, (code, margins) in enumerate(query_margins(qv, n_tables, n_planes)):
        probes = lists[t]
        assert probes[0] == code
        assert len(probes) == budget == len(set(probes))

        def score(p: int) -> float:
            flip = p ^ code
            return sum(margins[i] for i in range(n_planes) if flip >> i & 1)

        scores = [score(p) for p in probes]
        assert all(a <= b + 1e-12 for a, b in zip(scores, scores[1:]))
        brute = sorted(score(code ^ f) for f in range(2**n_planes))[:budget]
        assert abs(sum(scores) - sum(brute)) < 1e-9


def test_ranked_probe_not_worse_than_blind_at_equal_budget(spark, tmp_path):
    """At the SAME probe budget (79 codes/table = the Hamming<=2 ball),
    margin-ranked probing must recall at least as much of the exact
    top-10, averaged over probe vectors, as the blind ball — it spends
    the identical budget on better-chosen buckets (measured: beats or
    ties the ball on every probe vector at sf0.001/sf0.01)."""
    from delta_lake_optimizations_spark.operators.lsh_index import (
        ann_topk_from_index,
        ann_topk_from_index_ranked,
        build_lsh_index,
    )
    from delta_lake_optimizations_spark.operators.similarity import topk_cosine

    emb = load_table(spark, SF_DIR, "embeddings")
    dim = embedding_dim(SF_DIR)
    idx = build_lsh_index(spark, emb, os.path.join(tmp_path, "idx"), dim).load()
    ranked_mean, blind_mean = 0.0, 0.0
    for vid in (0, 1, 2):
        qv = query_vector(spark, SF_DIR, vid)
        exact = {r[0] for r in topk_cosine(emb, qv, k=10).collect()}
        ranked = {
            r[0] for r in ann_topk_from_index_ranked(idx, qv, k=10, budget=79).collect()
        }
        blind = {
            r[0] for r in ann_topk_from_index(idx, qv, k=10, probe_hamming=2).collect()
        }
        ranked_mean += len(exact & ranked) / max(1, len(exact))
        blind_mean += len(exact & blind) / max(1, len(exact))
    assert ranked_mean >= blind_mean, (ranked_mean / 3, blind_mean / 3)
    assert ranked_mean / 3 >= 0.6


def test_sharded_ranked_probe_returns_topk_from_probed_buckets(spark, tmp_path):
    """The sharded ranked probe keeps the sharded plan shape: one
    tc-IN-pruned load, candidates only from the probed buckets, exact
    re-rank, k distinct ids out."""
    from delta_lake_optimizations_spark.operators.lsh_index import (
        RANKED_BUDGET,
        ann_topk_from_sharded_ranked,
        build_lsh_sharded_index,
        probe_buckets_ranked,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    dim = embedding_dim(SF_DIR)
    t = build_lsh_sharded_index(
        spark, emb, os.path.join(tmp_path, "sidx"), dim, n_shards=32
    )
    qv = query_vector(spark, SF_DIR, 0)
    got = ann_topk_from_sharded_ranked(t, qv, k=10).collect()
    ids = [r["vec_id"] for r in got]
    assert len(ids) == 10 == len(set(ids))
    # every returned id really lives in a probed bucket
    buckets = probe_buckets_ranked(qv, RANKED_BUDGET)
    cand = {
        r[0]
        for r in t.load(skip_where=[("tc", "in", buckets)]).select("vec_id").collect()
    }
    assert set(ids) <= cand


@pytest.mark.slow  # equality twins also driver-checked in-window
def test_knn_join_from_sharded_plan_and_equality(spark, tmp_path):
    """Batch k-NN join from the index: equals the inline multi-table
    self-join at the same dial, index side broadcast-joined (never
    sort-merge shuffled), and — the r10 slim-shuffle rework (VERDICT r09
    #4) — the cosine computes MAP-SIDE so no exchange ever carries the
    float vectors: one (src_id, nbr_id) exchange of ~24-byte scored rows
    fed by a PARTIAL max (map-side dedupe combine), then one src_id
    exchange of the already-deduped rows for the top-k window."""
    import re

    from delta_lake_optimizations_spark.operators.lsh_index import (
        N_PLANES,
        N_TABLES_SHARDED,
        build_lsh_sharded_index,
        knn_join_from_sharded,
    )
    from delta_lake_optimizations_spark.operators.similarity import (
        knn_join_lsh_multitable,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    dim = embedding_dim(SF_DIR)
    t = build_lsh_sharded_index(
        spark, emb, os.path.join(tmp_path, "sidx"), dim, n_shards=32
    )
    got = knn_join_from_sharded(t, emb, dim, k=3)
    want = knn_join_lsh_multitable(
        emb, dim, k=3, n_tables=N_TABLES_SHARDED, n_planes=N_PLANES, probe_hamming=1
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0

    plan = got._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends "== Initial Plan ==" — assert on the final
    # plan section only
    plan = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in plan, "index side must not shuffle for the join"
    # ONE slim (src_id, nbr_id) exchange for the dedupe agg + ONE src_id
    # exchange of the deduped rows for the window — and nothing else
    n_pair_ex = len(
        re.findall(r"\bExchange hashpartitioning\(src_id#\d+L?, nbr_id", plan)
    )
    n_src_ex = len(
        re.findall(r"\bExchange hashpartitioning\(src_id#\d+L?, \d+\)", plan)
    )
    assert (n_pair_ex, n_src_ex) == (1, 1), plan
    # the dedupe max() combines map-side, shrinking table-duplicate pairs
    # before the shuffle
    assert "partial_max" in plan, plan
    # the exchanged rows are the slim scored triple: cosine is computed
    # BELOW the first exchange (map-side), so no vector column rides a
    # shuffle — `zip_with` (the cosine kernel) must not appear between
    # the exchanges and the window
    pair_ex_pos = plan.index("Exchange hashpartitioning(src_id")
    assert "zip_with" not in plan[:pair_ex_pos], (
        "cosine must sit below the exchange (deeper in the plan tree), "
        "not above it"
    )


def test_sharded_build_contiguous_balanced_deterministic(spark, tmp_path):
    """r12 single-UDF-pass sharded build (VERDICT r11 #3): the histogram-
    derived token mapping must reproduce repartitionByRange's defining
    layout property — every file covers a CONTIGUOUS, NON-OVERLAPPING tc
    range (that is what probe file-skipping rides) — stay balanced on a
    skewed bucket distribution (up to the unsplittable hot key), be
    deterministic across rebuilds, and plan as a HASH exchange (no
    rangepartitioning = no sampling pass re-evaluating the codes UDF)."""
    from delta_lake_optimizations_spark.operators.lsh_index import (
        build_lsh_sharded_index,
        lsh_exploded_index_frame,
        _tc_shard_token_map,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    dim = embedding_dim(SF_DIR)
    # skew the bucket distribution: one vector replicated 300x -> one hot
    # tc per table on top of the organic spread
    hot = emb.limit(1).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    skewed = emb.unionByName(
        hot.crossJoin(F.broadcast(
            spark.range(300).select(F.col("id").alias("_r"))
        )).select((F.col("vec_id") + F.col("_r")).alias("vec_id"), "embedding")
    )

    def ranges_of(t):
        out = []
        for f in t.snapshot().files:
            st = f.stats
            out.append((
                int(st["minValues"]["tc"]),
                int(st["maxValues"]["tc"]),
                int(f.num_records),
            ))
        return sorted(out)

    t1 = build_lsh_sharded_index(
        spark, skewed, os.path.join(tmp_path, "s1"), dim, n_shards=16
    )
    r1 = ranges_of(t1)
    assert len(r1) >= 8
    # contiguous & non-overlapping file ranges
    for (_, hi_a, _), (lo_b, _, _) in zip(r1, r1[1:]):
        assert hi_a < lo_b, r1
    # balanced up to the unsplittable hot key: every shard is at most the
    # hot-key posting count plus ~2 fair shares
    recs = [r[2] for r in r1]
    total = sum(recs)
    hot_count = 301 * 1  # replicas+original of the hot vector, per table
    assert max(recs) <= hot_count + 2 * total / len(recs), r1

    # deterministic rebuild -> identical file ranges
    t2 = build_lsh_sharded_index(
        spark, skewed, os.path.join(tmp_path, "s2"), dim, n_shards=16
    )
    assert ranges_of(t2) == r1

    # all postings present exactly once (the mapping is a partition of tc)
    n_src = skewed.count()
    from delta_lake_optimizations_spark.operators.lsh_index import N_TABLES_SHARDED
    assert t1.load().count() == n_src * N_TABLES_SHARDED

    # the write-side frame plans as a hash exchange on the shard token —
    # rangepartitioning (whose boundary sampling re-evaluated the Arrow
    # codes UDF over the full corpus) must be gone
    mapping = _tc_shard_token_map(
        spark, skewed, dim, 8, N_PLANES, 16, "vec_id", "embedding"
    )
    token_by_tc, n_parts = mapping
    frame = lsh_exploded_index_frame(skewed, dim, 8, N_PLANES).withColumn(
        "_shard_tok",
        F.element_at(
            F.lit(token_by_tc).cast("array<long>"), F.col("tc").cast("int") + 1
        ),
    ).repartition(n_parts, "_shard_tok")
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan
    assert "hashpartitioning" in plan.lower(), plan


def test_sharded_build_without_token_map_keeps_probe_results(
    spark, tmp_path, monkeypatch
):
    """If the sampled token map comes back empty on a non-empty corpus,
    the build falls back to a range repartition on ``tc``: files still
    cover contiguous, non-overlapping tc ranges, and probes return
    exactly what the normal build returns."""
    from delta_lake_optimizations_spark.operators import lsh_index
    from delta_lake_optimizations_spark.operators.lsh_index import (
        ann_topk_from_sharded,
        build_lsh_sharded_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    dim = embedding_dim(SF_DIR)
    normal = build_lsh_sharded_index(
        spark, emb, os.path.join(tmp_path, "normal"), dim, n_shards=16
    )
    monkeypatch.setattr(lsh_index, "_tc_shard_token_map", lambda *a, **k: None)
    fallback = build_lsh_sharded_index(
        spark, emb, os.path.join(tmp_path, "fallback"), dim, n_shards=16
    )

    ranges = sorted(
        (int(f.stats["minValues"]["tc"]), int(f.stats["maxValues"]["tc"]))
        for f in fallback.snapshot().files
    )
    assert len(ranges) > 1
    for (_, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a < lo_b, ranges
    for vid in (0, 7):
        qv = query_vector(spark, SF_DIR, vid)
        want = [(r[0], r[1]) for r in ann_topk_from_sharded(normal, qv, k=10).collect()]
        got = [(r[0], r[1]) for r in ann_topk_from_sharded(fallback, qv, k=10).collect()]
        assert got == want, f"vec {vid}"
