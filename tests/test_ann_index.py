"""Materialized ANN index: build-once / probe-O(batch) invariants.

The registered `ann_ivf_kmeans_topk` trains inline every run; the
index API amortizes that training into parquet tables. These tests pin
the contract the similarity docstrings promise: a probe against the
materialized index (a) finds an indexed vector as its own top-1 at
cosine 1.0, (b) is deterministic across probes, and (c) equals the
inline IVF query's results for the same nprobe/topk once self-matches
are removed — i.e. materialization changes WHERE the work happens,
never the answer.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from realtime_event_streaming_spark.io import load_table
from realtime_event_streaming_spark.operators.similarity import (
    N_QUERIES,
    TOPK,
    ann_ivf_kmeans_topk,
    probe_ann_index,
    write_ann_index,
)

SF = "/root/testdata/sf0.001"


def _queries(spark):
    return (
        load_table(spark, SF, "embeddings")
        .where(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("v"))
    )


def test_probe_finds_self_and_is_deterministic(spark, tmp_path):
    path = str(tmp_path / "ann_index")
    write_ann_index(spark, SF, path)
    res = probe_ann_index(spark, path, _queries(spark)).collect()
    # (a) every indexed query's nearest neighbor is itself at cos 1.0
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == N_QUERIES
    for qid, rows in by_q.items():
        top = min(rows, key=lambda r: r.rank)
        assert top.neighbor_id == qid and top.cosine == 1.0, (qid, top)
    # (b) deterministic across probes
    again = probe_ann_index(spark, path, _queries(spark)).collect()
    assert sorted(map(tuple, res)) == sorted(map(tuple, again))


def test_probe_matches_inline_ivf_query(spark, tmp_path):
    path = str(tmp_path / "ann_index2")
    write_ann_index(spark, SF, path)
    probed = probe_ann_index(spark, path, _queries(spark))
    # drop self-matches and re-rank to align with the inline query's
    # self-exclusion semantics
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    probed_noself = (
        probed.where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
    inline = (
        ann_ivf_kmeans_topk(spark, SF)
        .where(F.col("rank") <= 3)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
    assert sorted(map(tuple, probed_noself.collect())) == sorted(
        map(tuple, inline.collect())
    )


def test_merge_appends_searchable_vectors_and_compaction_is_invisible(
    spark, tmp_path
):
    """ANN maintenance round trip: an exact copy of an indexed vector
    merged under a new id must surface in its source's probes at
    cosine 1.0 (the append landed in the right cell), and compacting
    the postings changes file counts, never answers."""
    from realtime_event_streaming_spark.io import compact_index_table
    from realtime_event_streaming_spark.operators.similarity import (
        merge_ann_index,
    )

    path = str(tmp_path / "ann_index")
    write_ann_index(spark, SF, path)
    src = 3
    batch = (
        load_table(spark, SF, "embeddings")
        .where(F.col("vec_id") == src)
        .select(F.lit(9999).alias("vec_id"), F.col("embedding").alias("v"))
    )
    pre_ids = {
        r.neighbor_id
        for r in probe_ann_index(spark, path, _queries(spark)).collect()
    }
    assert 9999 not in pre_ids

    merge_ann_index(spark, path, batch)
    post = probe_ann_index(spark, path, _queries(spark)).collect()
    hits = [r for r in post if r.neighbor_id == 9999]
    assert hits and all(r.cosine == 1.0 for r in hits if r.query_id == src)
    assert any(r.query_id == src for r in hits)

    stats = compact_index_table(spark, f"{path}/postings")
    assert stats["files_after"] < stats["files_before"]
    again = probe_ann_index(spark, path, _queries(spark)).collect()
    assert sorted(map(tuple, post)) == sorted(map(tuple, again))


def test_nsw_merge_wires_copies_to_sources(spark):
    """update_nsw_index invariants: pre/post phases share the query
    panel; pre-merge top-k never contains a batch id; every copy
    whose SOURCE sits at pre-merge rank <= TOPK-1 must surface in the
    post-merge top-k (the copy scores identically to its source and
    the insert wired them bidirectionally, so the beam that reached
    the source reaches the copy one hop further)."""
    from realtime_event_streaming_spark.plans.index_queries import (
        _NSW_MNT_MOD,
        _NSW_MNT_RES,
    )
    from realtime_event_streaming_spark.io import load_table
    from realtime_event_streaming_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = load_all()["update_nsw_index"].spark_fn(spark, sf).collect()
    mx = (
        load_table(spark, sf, "embeddings")
        .agg({"vec_id": "max"})
        .collect()[0][0]
    )
    pre = [r for r in rows if r.phase == "pre_merge"]
    post = [r for r in rows if r.phase == "post_merge"]
    assert {r.query_id for r in pre} == {r.query_id for r in post}
    assert all(r.neighbor_id <= mx for r in pre), (
        "pre-merge probe must not see batch ids"
    )
    assert any(r.neighbor_id > mx for r in post), (
        "post-merge probe must surface inserted copies"
    )
    from collections import defaultdict

    post_by_q = defaultdict(set)
    for r in post:
        post_by_q[r.query_id].add(r.neighbor_id)
    for r in pre:
        src = r.neighbor_id
        if src % _NSW_MNT_MOD == _NSW_MNT_RES and r.rank <= TOPK - 1:
            copy_id = src + mx + 1
            assert copy_id in post_by_q[r.query_id], (
                f"copy {copy_id} of rank-{r.rank} source {src} missing "
                f"from post-merge top-k of query {r.query_id}"
            )


def test_graph_serve_equals_inline_beam(spark):
    """`graph_ann_serve` (materialized near-link table + probe-time
    long links) must return exactly `graph_ann_beam`'s rows — the
    serving split changes WHERE the graph lives, never the answer."""
    from realtime_event_streaming_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    reg = load_all()
    serve = sorted(
        map(tuple, reg["graph_ann_serve"].spark_fn(spark, sf).collect())
    )
    beam = sorted(
        map(tuple, reg["graph_ann_beam"].spark_fn(spark, sf).collect())
    )
    assert serve == beam


def test_nsw_bucket_bits_rule():
    """write_nsw_index's self-scaling default: bits = floor(log2(n/32))
    (~32 vectors/bucket, the measured PERF.md rule), floored at the
    contract-scale LSH_BITS so small corpora keep the pinned shape."""
    from realtime_event_streaming_spark.operators.similarity import (
        LSH_BITS,
        nsw_bucket_bits_for,
    )

    assert nsw_bucket_bits_for(1) == LSH_BITS
    assert nsw_bucket_bits_for(2_000) == LSH_BITS  # contract scale
    assert nsw_bucket_bits_for(32 * 2**LSH_BITS) == LSH_BITS  # boundary
    assert nsw_bucket_bits_for(200_000) == 12  # the measured sf10 point
    assert nsw_bucket_bits_for(1_000_000) == 14
    # monotone non-decreasing across decades
    pts = [nsw_bucket_bits_for(10**k) for k in range(2, 10)]
    assert pts == sorted(pts)


def test_nsw_merge_prunes_degree_to_top_m(spark, tmp_path):
    """Repeated merges must keep every node's out-degree <= _NSW_M:
    each receiver's adjacency is re-selected to top-M by cosine
    (Malkov's neighbor re-selection). Without the prune the degree of
    popular receivers grows unboundedly merge over merge, inflating
    per-hop probe cost (round-12 ADVICE)."""
    from realtime_event_streaming_spark.operators.similarity import (
        _NSW_M,
        _vectors,
        merge_nsw_index,
        write_nsw_index,
    )

    path = str(tmp_path / "nsw")
    write_nsw_index(spark, SF, path)  # exercises the self-scaling default
    vecs = _vectors(spark, SF).select("vec_id", "v", "norm")
    mx = vecs.agg(F.max("vec_id")).first()[0]

    for round_no in (1, 2):
        batch = vecs.where(F.col("vec_id") % 9 == 4).select(
            (F.col("vec_id") + mx * round_no + round_no).alias("vec_id"),
            "v",
            "norm",
        )
        merge_nsw_index(spark, path, batch)
        deg = (
            spark.read.parquet(f"{path}/near")
            .groupBy("src")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        assert deg <= _NSW_M, f"degree {deg} > M after merge {round_no}"


def test_nsw_merge_keeps_prior_merge_edges_and_is_store_consistent(
    spark, tmp_path
):
    """The store-authority contract: a second merge's degree prune
    must still see merge-1's vectors (they live in {path}/vecs), so
    an affected src's surviving edge to a merge-1 node is re-ranked,
    never silently dropped by a missing-vector join; and re-admitting
    a batch (the crash-retry path) must not duplicate store rows."""
    from realtime_event_streaming_spark.operators.similarity import (
        _vectors,
        merge_nsw_index,
        write_nsw_index,
    )

    path = str(tmp_path / "nsw_auth")
    write_nsw_index(spark, SF, path)
    vecs = _vectors(spark, SF).select("vec_id", "v", "norm")
    mx = vecs.agg(F.max("vec_id")).first()[0]

    b1 = vecs.where(F.col("vec_id") % 9 == 4).select(
        (F.col("vec_id") + mx + 1).alias("vec_id"), "v", "norm"
    )
    merge_nsw_index(spark, path, b1)
    # the SAME batch again = the crash-retry replay: store row count
    # must be unchanged (idempotent admission), every vec_id unique
    merge_nsw_index(spark, path, b1)
    store = spark.read.parquet(f"{path}/vecs")
    n_rows = store.count()
    n_ids = store.select("vec_id").distinct().count()
    assert n_rows == n_ids == vecs.count() + b1.count()
    # and the EDGE side survives the replay too (the round-12 review
    # caught the non-uniform prune leaving 855 duplicate edges and
    # degree 16 > M here): (src, dst) stays unique and every node's
    # out-degree stays <= M
    from realtime_event_streaming_spark.operators.similarity import (
        _NSW_M,
    )

    near1 = spark.read.parquet(f"{path}/near")
    assert near1.count() == near1.select("src", "dst").distinct().count()
    max_deg = (
        near1.groupBy("src").count().agg(F.max("count")).first()[0]
    )
    assert max_deg <= _NSW_M, f"replayed merge degree {max_deg} > M"

    # a disjoint second batch: every edge endpoint after the merge
    # must have a vector in the store (no dangling edges — the
    # missing-vector prune drop would violate exactly this)
    b2 = vecs.where(F.col("vec_id") % 9 == 7).select(
        (F.col("vec_id") + 2 * (mx + 1)).alias("vec_id"), "v", "norm"
    )
    merge_nsw_index(spark, path, b2)
    near = spark.read.parquet(f"{path}/near")
    ids = spark.read.parquet(f"{path}/vecs").select("vec_id")
    dangling = (
        near.select(F.col("src").alias("vec_id"))
        .union(near.select(F.col("dst").alias("vec_id")))
        .distinct()
        .join(ids, "vec_id", "left_anti")
        .count()
    )
    assert dangling == 0
    # and merge-1 nodes keep edges after merge-2 touched the graph
    b1_ids = {r[0] for r in b1.select("vec_id").collect()}
    b1_edges = near.where(F.col("src").isin(list(b1_ids))).count()
    assert b1_edges > 0


@pytest.mark.parametrize("n_shards", [1, 4])
def test_nsw_store_probe_matches_inmemory(spark, tmp_path, n_shards):
    """The inline search (`_nsw_visited`: the graph built and
    checkpointed in memory) and `probe_nsw_index` over a
    `write_nsw_index` of the same graph run the same `nsw_beam` and
    must return exactly the same rows — materialization changes WHERE
    the lookup happens, never the result — for the flat graph and the
    sharded one."""
    from realtime_event_streaming_spark.operators.similarity import (
        LSH_BITS,
        _nsw_panel,
        _nsw_topk,
        _nsw_visited,
        _vectors,
        probe_nsw_index,
        write_nsw_index,
    )

    path = str(tmp_path / "nsw_store")
    write_nsw_index(spark, SF, path, bucket_bits=LSH_BITS, n_shards=n_shards)
    qs = _nsw_panel(_vectors(spark, SF))
    mem = _nsw_topk(_nsw_visited(spark, SF, n_shards))
    srv = probe_nsw_index(spark, path, qs, n_shards=n_shards)
    mem_rows = sorted(map(tuple, mem.collect()))
    assert mem_rows
    assert mem_rows == sorted(map(tuple, srv.collect()))


def test_nsw_store_probe_partition_pruned(spark, tmp_path):
    """The serving lookup's scale contract: a beam hop's join against
    the vector store must carry a dynamicpruning subquery on the
    store scan's PartitionFilters (reads O(candidates) partitions, not
    the corpus). Pinned on the hop-lookup helper directly because the
    full probe hides each hop's plan behind its localCheckpoint."""
    from realtime_event_streaming_spark.operators.similarity import (
        LSH_BITS,
        _nsw_store_lookup,
        _vectors,
        write_nsw_index,
    )

    path = str(tmp_path / "nsw_dpp")
    write_nsw_index(spark, SF, path, bucket_bits=LSH_BITS)
    store = spark.read.parquet(f"{path}/vecs").select(
        F.col("vec_id").alias("node_id"),
        F.col("v").alias("nv"),
        F.col("norm").alias("nn"),
        "pt",
    )
    cand = (
        _vectors(spark, SF)
        .where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            (F.col("vec_id") * 3).alias("node"),
        )
    )
    plan = (
        _nsw_store_lookup(cand, store)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def _executed_file_scans(df):
    """Walk an EXECUTED physical plan (AQE stages included) and return
    its FileSourceScan nodes with their runtime SQL metrics — the
    partitions/files a scan actually read, not what the static plan
    shape promises."""
    scans = []

    def walk(node):
        cname = node.getClass().getSimpleName()
        if "FileSourceScan" in cname or "BatchScan" in cname:
            scans.append(node)
            return
        if cname == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cname.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if cname == "ReusedExchangeExec":
            walk(node.child())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    out = []
    for s in scans:
        m = s.metrics()
        it = m.keys().iterator()
        vals = {}
        while it.hasNext():
            k = it.next()
            vals[k] = m.apply(k).value()
        out.append(vals)
    return out


@pytest.mark.parametrize("n_shards", [1, 4])
def test_nsw_store_probe_partitions_read_runtime(spark, tmp_path, n_shards):
    """The serving hop's scale contract MEASURED, not just plan-pinned
    (round-12 ADVICE): in the real probe each hop's candidates are
    checkpointed-RDD-derived — a shape the PartitionPruning rule
    treats differently from the parquet-backed helper inputs the
    static plan pins use — so this test feeds the hop lookups a
    localCheckpoint-derived frontier, EXECUTES them, and asserts the
    partitions-read SQL metric on the store/edge scans: a hop must
    read only the pt partitions its candidates land in, never the
    corpus. A silent DPP loss in the executed shape (metric ==
    _NSW_PARTS) fails here even if the helper plans still carry the
    dynamicpruning subquery. Checked on the flat and the sharded
    index (one pt-only layout for every shard count)."""
    from realtime_event_streaming_spark.operators.similarity import (
        LSH_BITS,
        _NSW_PARTS,
        _nsw_edge_lookup,
        _nsw_store_lookup,
        _vectors,
        write_nsw_index,
    )

    path = str(tmp_path / "nsw_runtime_dpp")
    write_nsw_index(spark, SF, path, bucket_bits=LSH_BITS, n_shards=n_shards)
    store = spark.read.parquet(f"{path}/vecs").select(
        F.col("vec_id").alias("node_id"),
        F.col("v").alias("nv"),
        F.col("norm").alias("nn"),
        "pt",
    )
    near = spark.read.parquet(f"{path}/near")
    # the real probe's hop-input shape: frontier derived from a
    # localCheckpointed DataFrame (RDDScanExec under the join), not a
    # parquet-backed one
    frontier = (
        _vectors(spark, SF)
        .where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            (F.col("vec_id") * 3).alias("node"),
        )
        .localCheckpoint(eager=False)
        .select("query_id", "node")
    )
    n_pts = frontier.where(F.col("node") >= 0).select(
        F.pmod(F.col("node"), F.lit(_NSW_PARTS)).alias("pt")
    ).distinct().count()
    assert 0 < n_pts < _NSW_PARTS  # else the assertion below is vacuous

    looked = _nsw_store_lookup(frontier, store)
    assert looked.count() > 0
    for df, label in ((looked, "store"), (
        _nsw_edge_lookup(frontier, near), "edges"
    )):
        df.collect()
        scans = [
            m for m in _executed_file_scans(df) if "numPartitions" in m
        ]
        assert scans, f"{label}: no partitioned file scan executed"
        for m in scans:
            assert 0 < m["numPartitions"] <= n_pts, (label, m)
            assert m["numPartitions"] < _NSW_PARTS, (label, m)


def test_ivf_probe_partition_pruned(spark, tmp_path):
    """write_ann_index's docstring promise — "cid partition dirs mean
    a probe's scan prunes to its cells' files only" — as a plan
    assertion: the postings scan must carry a dynamicpruning subquery
    in its PartitionFilters (the qprobe side's rn <= nprobe filter is
    the likely-selective predicate that unlocks it)."""
    path = str(tmp_path / "ivf_dpp")
    write_ann_index(spark, SF, path)
    plan = (
        probe_ann_index(spark, path, _queries(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_nsw_edge_lookup_partition_pruned(spark, tmp_path):
    """The edge-side twin of the vector-store DPP contract: a hop's
    frontier->out-edges join against the pt-partitioned near-link
    table must carry a dynamicpruning subquery, so the edge table is
    never scanned (or cached) whole in serving mode."""
    from realtime_event_streaming_spark.operators.similarity import (
        LSH_BITS,
        _nsw_edge_lookup,
        _vectors,
        write_nsw_index,
    )

    path = str(tmp_path / "nsw_edpp")
    write_nsw_index(spark, SF, path, bucket_bits=LSH_BITS)
    near = spark.read.parquet(f"{path}/near").select("src", "dst", "pt")
    frontier = (
        _vectors(spark, SF)
        .where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            (F.col("vec_id") * 3).alias("node"),
        )
    )
    plan = (
        _nsw_edge_lookup(frontier, near)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_nsw_beam_width_rule_and_passthrough(spark, tmp_path):
    """The measured B ~ n^0.6 recovery rule as code: floored at the
    contract width, ~256 at the sf1 sweep's 20k point, monotone; and
    the beam_width passthrough is real — an explicit contract-width
    probe is row-identical to the default, and a widened probe keeps
    the result contract (TOPK ranked rows per query, no self
    matches). No cosine-dominance assert: beyond hop 2 a wider
    greedy beam's frontier is NOT a superset of the narrow one's, so
    per-rank dominance is not an algorithm invariant."""
    from realtime_event_streaming_spark.operators.similarity import (
        _NSW_B,
        LSH_BITS,
        _vectors,
        nsw_beam_width_for,
        probe_nsw_index,
        write_nsw_index,
    )

    assert nsw_beam_width_for(1) == _NSW_B
    assert nsw_beam_width_for(2_000) == _NSW_B  # contract scale
    assert 240 <= nsw_beam_width_for(20_000) <= 260  # sf1 point ~256
    pts = [nsw_beam_width_for(10**k) for k in range(3, 9)]
    assert pts == sorted(pts)

    path = str(tmp_path / "nsw_bw")
    write_nsw_index(spark, SF, path, bucket_bits=LSH_BITS)
    qs = (
        _vectors(spark, SF)
        .where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
        )
    )
    base = probe_nsw_index(spark, path, qs).collect()
    explicit = probe_nsw_index(
        spark, path, qs, beam_width=_NSW_B
    ).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, explicit))
    wide = probe_nsw_index(
        spark, path, qs, beam_width=2 * _NSW_B
    ).collect()
    assert {r.query_id for r in wide} == {r.query_id for r in base}
    by_q = {}
    for r in wide:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.neighbor_id != r.query_id
    assert all(
        sorted(x.rank for x in rows) == list(range(1, TOPK + 1))
        for rows in by_q.values()
    )


def test_graph_beam_recall_curve_monotone(spark):
    """The beam-width recall curve's structural contract: one row per
    registered width, shared query panel size, and recall
    approximately non-decreasing in B. NOT an algorithm invariant:
    beyond hop 2 a wider beam's frontier is not a superset of the
    narrow one's (see test_nsw_beam_width_rule_and_passthrough), so
    visited(2B) need not contain visited(B) and small inversions are
    legitimate greedy-search behavior on an unlucky fixture. The
    tolerance catches real plumbing regressions (a width arm reading
    the wrong graph or baseline craters recall) without pinning a
    fixture-level accident as a contract (round-12 ADVICE)."""
    from realtime_event_streaming_spark.operators.similarity import (
        _BCURVE_WIDTHS,
    )
    from realtime_event_streaming_spark.registry import load_all

    rows = (
        load_all()["graph_beam_recall_curve"]
        .spark_fn(spark, SF)
        .collect()
    )
    assert [r.beam_width for r in rows] == sorted(_BCURVE_WIDTHS)
    assert len({r.n_queries for r in rows}) == 1
    recalls = [r.mean_recall for r in rows]
    for lo, hi in zip(recalls, recalls[1:]):
        assert hi >= lo - 0.02, recalls
    assert all(0.0 <= x <= 1.0 for x in recalls)


def test_fast_hop_planning_nested_and_interleaved_restore(spark):
    """The constraint-propagation scope guard's concurrency contract
    (round-13 review): overlapping enter/exit lifetimes must restore
    the session flag exactly once, after the LAST exit — a naive
    per-entry save would let interleaved exits leak 'false' into the
    session permanently. Exercised with generator-driven interleaving
    (A enters, B enters, A exits, B exits), the exact schedule the
    review named."""
    from realtime_event_streaming_spark.operators.similarity import (
        _CONSTRAINT_KEY,
        _fast_hop_planning,
    )

    before = spark.conf.get(_CONSTRAINT_KEY)

    # nested (same thread) — inner exit must NOT restore early
    with _fast_hop_planning(spark):
        assert spark.conf.get(_CONSTRAINT_KEY) == "false"
        with _fast_hop_planning(spark):
            assert spark.conf.get(_CONSTRAINT_KEY) == "false"
        assert spark.conf.get(_CONSTRAINT_KEY) == "false"
    assert spark.conf.get(_CONSTRAINT_KEY) == before

    # interleaved lifetimes: A enter, B enter, A exit, B exit.
    # try/finally: a mid-schedule assert failure must not leak the
    # flag (or stale guard state) into the session-scoped fixture and
    # cascade into unrelated tests (round-13 third review).
    from realtime_event_streaming_spark.operators.similarity import (
        _FAST_HOP_STATE,
        _fast_hop_key,
    )

    before_raw = spark.conf.get(_CONSTRAINT_KEY, None)
    a = _fast_hop_planning(spark)
    b = _fast_hop_planning(spark)
    try:
        a.__enter__()
        b.__enter__()
        a.__exit__(None, None, None)
        assert spark.conf.get(_CONSTRAINT_KEY) == "false", (
            "A's exit restored while B was still active"
        )
        b.__exit__(None, None, None)
        assert spark.conf.get(_CONSTRAINT_KEY) == before
    finally:
        # clean up ONLY this test's guard entry, and restore an
        # unset flag via unset — clearing the whole dict or force-
        # setting the key would clobber guard state owned by other
        # sessions/threads in the process (round-13 ADVICE)
        _FAST_HOP_STATE.pop(_fast_hop_key(spark), None)
        if before_raw is None:
            spark.conf.unset(_CONSTRAINT_KEY)
        else:
            spark.conf.set(_CONSTRAINT_KEY, before_raw)


def test_fast_hop_planning_is_per_session(spark):
    """Cross-session contract (round-13 second review, reproduced
    live before the fix): sibling `newSession()` handles share the
    SparkContext but have independent conf, so the guard must track
    (depth, saved-flag) PER SESSION — with a module-global counter,
    probe B on session 2 never got the optimization, B's exit
    restored A's saved value onto the wrong session, and session 1
    leaked 'false' permanently."""
    from realtime_event_streaming_spark.operators.similarity import (
        _CONSTRAINT_KEY,
        _fast_hop_planning,
    )

    s2 = spark.newSession()
    before1 = spark.conf.get(_CONSTRAINT_KEY)
    before2 = s2.conf.get(_CONSTRAINT_KEY)

    from realtime_event_streaming_spark.operators.similarity import (
        _FAST_HOP_STATE,
        _fast_hop_key,
    )

    before1_raw = spark.conf.get(_CONSTRAINT_KEY, None)
    before2_raw = s2.conf.get(_CONSTRAINT_KEY, None)
    a = _fast_hop_planning(spark)
    b = _fast_hop_planning(s2)
    # try/finally: a mid-schedule failure must not leak the flag into
    # the session-scoped fixture (round-13 third review)
    try:
        a.__enter__()
        b.__enter__()
        # BOTH sessions must be under the optimization while active
        assert spark.conf.get(_CONSTRAINT_KEY) == "false"
        assert s2.conf.get(_CONSTRAINT_KEY) == "false"
        a.__exit__(None, None, None)
        # A's exit restores ONLY its own session; B's stays pinned
        assert spark.conf.get(_CONSTRAINT_KEY) == before1
        assert s2.conf.get(_CONSTRAINT_KEY) == "false"
        b.__exit__(None, None, None)
        assert spark.conf.get(_CONSTRAINT_KEY) == before1
        assert s2.conf.get(_CONSTRAINT_KEY) == before2
    finally:
        # pop only this test's sessions; restore unset flags via
        # unset, never a forced set (round-13 ADVICE: clearing the
        # dict or unconditionally setting the key clobbers guard
        # state owned by other sessions/threads)
        _FAST_HOP_STATE.pop(_fast_hop_key(spark), None)
        _FAST_HOP_STATE.pop(_fast_hop_key(s2), None)
        for sess, raw in ((spark, before1_raw), (s2, before2_raw)):
            if raw is None:
                sess.conf.unset(_CONSTRAINT_KEY)
            else:
                sess.conf.set(_CONSTRAINT_KEY, raw)


def test_fast_hop_planning_shared_across_wrappers(spark):
    """Wrapper-identity contract (round-13 ADVICE, closed round 14):
    two PYTHON wrappers of the SAME JVM session share one conf, so
    they must share one guard entry — state keyed by the wrapper
    object would give each its own depth/saved-flag, and the
    interleaved schedule below (wrapper A enters, wrapper B enters,
    A exits, B exits) would restore a stale value mid-flight and
    then leak 'false' permanently. The guard keys by the JVM
    session's sessionUUID, making every wrapper equivalent."""
    from realtime_event_streaming_spark.operators.similarity import (
        _CONSTRAINT_KEY,
        _FAST_HOP_STATE,
        _fast_hop_key,
        _fast_hop_planning,
    )

    w2 = type(spark)(spark.sparkContext, spark._jsparkSession)
    assert w2 is not spark
    assert _fast_hop_key(w2) == _fast_hop_key(spark)

    before = spark.conf.get(_CONSTRAINT_KEY)
    before_raw = spark.conf.get(_CONSTRAINT_KEY, None)
    a = _fast_hop_planning(spark)
    b = _fast_hop_planning(w2)
    try:
        a.__enter__()
        b.__enter__()
        # ONE shared entry at depth 2, not two independent entries
        assert len(
            [k for k in _FAST_HOP_STATE if k == _fast_hop_key(spark)]
        ) == 1
        assert _FAST_HOP_STATE[_fast_hop_key(spark)][0] == 2
        a.__exit__(None, None, None)
        # wrapper A's exit must NOT restore while wrapper B is active
        assert spark.conf.get(_CONSTRAINT_KEY) == "false"
        assert w2.conf.get(_CONSTRAINT_KEY) == "false"
        b.__exit__(None, None, None)
        assert spark.conf.get(_CONSTRAINT_KEY) == before
        assert _fast_hop_key(spark) not in _FAST_HOP_STATE
    finally:
        _FAST_HOP_STATE.pop(_fast_hop_key(spark), None)
        if before_raw is None:
            spark.conf.unset(_CONSTRAINT_KEY)
        else:
            spark.conf.set(_CONSTRAINT_KEY, before_raw)


@pytest.mark.parametrize("n_shards", [1, 4])
def test_nsw_probe_hops_keep_dpp(spark, tmp_path, n_shards):
    """The REAL probe's executed hop plans must keep live dynamic-
    pruning subqueries on both index scans (round-14 regression pin):
    a Window operator anywhere in a DPP filtering side makes Spark
    drop the pruning filter from the EXECUTED plan (measured: the
    window-shaped lookup reads all _NSW_PARTS partitions under every
    conf combination, parquet- or RDD-backed alike), so every hop
    after the first was silently scanning the store and edge tables
    whole while the isolated-shape pins above stayed green. The probe
    now checkpoints each frontier after its top-B window; this test
    captures the actual hop DataFrames from a full probe run and
    asserts no executed hop degraded to dynamicpruningexpression(true)
    — and that mid-loop hops (window-derived frontiers, the shape
    that regressed) carry a live IN-subquery filter. The sharded
    probe's window is keyed by (query_id, shard), the same shape."""
    from pyspark.sql.classic.dataframe import DataFrame as CDataFrame

    from realtime_event_streaming_spark.operators.similarity import (
        LSH_BITS,
        N_QUERIES,
        _vectors,
        probe_nsw_index,
        write_nsw_index,
    )

    path = str(tmp_path / "nsw_full_dpp")
    write_nsw_index(spark, SF, path, bucket_bits=LSH_BITS, n_shards=n_shards)
    qs = (
        _vectors(spark, SF)
        .where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
        )
    )

    captured = []
    orig = CDataFrame.localCheckpoint

    def capturing(self, *args, **kwargs):
        captured.append(self)
        return orig(self, *args, **kwargs)

    CDataFrame.localCheckpoint = capturing
    try:
        rows = probe_nsw_index(spark, path, qs, n_shards=n_shards).collect()
    finally:
        CDataFrame.localCheckpoint = orig

    assert rows, "probe returned nothing"
    # scored hops join the INDEX's vector store (aliased node_id);
    # neither the qs-panel checkpoint (a FileScan too — the sf
    # embeddings table, so FileScan presence can't discriminate) nor
    # the frontier checkpoints (query_id/node only) reference it.
    # NOT matched on the index path: plan toString truncates long
    # Location strings, and pytest tmp paths are long.
    hop_plans = []
    for df in captured:
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "node_id#" in plan:
            hop_plans.append(plan)
    assert len(hop_plans) >= 4, "expected the H scored hops captured"
    live = 0
    for plan in hop_plans:
        assert "dynamicpruningexpression(true)" not in plan, plan[:3000]
        # match the open paren, not the full "IN dynamicpruning#"
        # form: plan toString truncates long PartitionFilters lines
        # mid-expression (seen on the IVF twin of this test)
        if "dynamicpruningexpression(" in plan:
            live += 1
    # mid-loop (window-frontier) hops must carry live filters, not
    # merely avoid the degraded literal; slack of 1 covers hop 1,
    # whose frontier is the literal entry node(s)
    assert live >= len(hop_plans) - 1, (live, len(hop_plans))


def test_ivf_probe_partitions_read_runtime(spark, tmp_path):
    """The IVF probe's scale contract MEASURED on the EXECUTED plan
    (round-14 regression pin, the `test_nsw_full_probe_hops_keep_dpp`
    discipline applied to the IVF stack): the extended plan-audit
    sweep caught `probe_ann_index`'s executed scan degraded to
    dynamicpruningexpression(true) — the explode-derived cell ranking
    in the probe side makes Spark drop the DPP filter at execution
    (the same failure class as the NSW hops' Window shape) even
    though the static plan pin (test_ivf_probe_partition_pruned)
    stays green, and the registered 50-query panel saturates K=8
    cells so a partitions-read check on it is vacuous. The probe now
    checkpoints the ranked cells before the postings join; this test
    probes a 2-query panel (nprobe=2 -> at most 4 distinct cells) and
    asserts the postings scan's runtime partitions-read metric."""
    from realtime_event_streaming_spark.operators.similarity import (
        IVF_NPROBE,
        _vectors,
    )

    path = str(tmp_path / "ivf_runtime_dpp")
    write_ann_index(spark, SF, path)
    q = (
        _vectors(spark, SF)
        .where(F.col("vec_id") < 2)
        .select(F.col("vec_id").alias("query_id"), "v")
    )
    df = probe_ann_index(spark, path, q)
    rows = df.collect()
    assert rows
    # vacuity guard on CELL count, not file count: more write tasks
    # than cells would inflate staticFilesNum and let the pruning
    # assertions pass while measuring nothing (round-14 review)
    k_cells = spark.read.parquet(f"{path}/centroids").count()
    assert k_cells > 2 * IVF_NPROBE, (
        "fixture regressed: K too small for a non-vacuous check",
        k_cells,
    )
    scans = [m for m in _executed_file_scans(df) if "numPartitions" in m]
    assert scans, "no partitioned postings scan executed"
    for m in scans:
        assert 0 < m["numPartitions"] <= 2 * IVF_NPROBE, m
        assert m["numPartitions"] < k_cells, m


def test_nsw_sharded_probe_finds_self_and_matches_default_width(
    spark, tmp_path
):
    """Serving sanity on the materialized sharded index: (a) every
    query gets a full self-excluded top-k with contiguous ranks (the
    store lookup, shard routing and merge are consistent — the probe
    filters self-matches as the flat probe does), (b) an explicit
    beam_width equal to the default produces identical results (the
    width plumbing is a no-op at the contract point), and (c) the
    per-shard-rule string resolves without error at contract scale
    (where the rule floors to the flat contract width)."""
    from realtime_event_streaming_spark.operators.similarity import (
        LSH_BITS,
        _NSW_SHARD_B,
        _NSW_SHARDS,
        _vectors,
        probe_nsw_index,
        write_nsw_index,
    )

    path = str(tmp_path / "nsw_sharded_probe")
    write_nsw_index(spark, SF, path, bucket_bits=LSH_BITS, n_shards=_NSW_SHARDS)
    qs = (
        _vectors(spark, SF)
        .where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
        )
    )

    def probe(**kw):
        return probe_nsw_index(
            spark, path, qs, n_shards=_NSW_SHARDS, **kw
        ).collect()

    res = probe()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == N_QUERIES
    for qid, rws in by_q.items():
        assert sorted(r.rank for r in rws) == list(range(1, TOPK + 1)), (
            qid, rws,
        )
        assert all(r.neighbor_id != qid for r in rws), (qid, rws)
    again = probe(beam_width=_NSW_SHARD_B)
    assert sorted(map(tuple, res)) == sorted(map(tuple, again))
    ruled = probe(beam_width="per-shard-rule")
    assert ruled and len({r.query_id for r in ruled}) == N_QUERIES


def _probe_jobs(spark, group: str, probe) -> int:
    """Spark jobs one call of ``probe`` launches, construction and
    collect together (the serving probe stages its hops while it is
    built), counted by job group from the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        assert probe().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_nsw_sharded_probe_launches_no_more_jobs(spark, tmp_path):
    """All shards advance in one hop loop, so the sharded serving
    probe must launch no more Spark jobs than the one-shard probe on
    the same fixture: the entry frontier is a generator over the
    shard ids (not a join against a broadcast range) and the merge is
    one window (the visited sets are disjoint, no dedup)."""
    from realtime_event_streaming_spark.operators.similarity import (
        LSH_BITS,
        _NSW_SHARDS,
        _vectors,
        probe_nsw_index,
        write_nsw_index,
    )

    qs = (
        _vectors(spark, SF)
        .where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
        )
    )
    jobs = {}
    for n_shards in (1, _NSW_SHARDS):
        path = str(tmp_path / f"nsw_jobs_{n_shards}")
        write_nsw_index(
            spark, SF, path, bucket_bits=LSH_BITS, n_shards=n_shards
        )

        def probe(path=path, n_shards=n_shards):
            return probe_nsw_index(spark, path, qs, n_shards=n_shards)

        probe().collect()  # warm: schema inference of the index tables
        jobs[n_shards] = _probe_jobs(spark, f"nsw-jobs-{n_shards}", probe)
    assert jobs[1] > 0
    assert jobs[_NSW_SHARDS] <= jobs[1], jobs
