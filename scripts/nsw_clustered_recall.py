#!/usr/bin/env python
"""NSW beam-width rule on a CLUSTERED (realistic) fixture.

Round-12 verdict item 5: the ``nsw_beam_width_for`` n^0.6 recovery
rule was measured on the worst-case NEAR-UNIFORM synthetic embeddings
(PERF.md "NSW at 10x vectors": recall@5 at fixed B=64 decays
0.84 -> 0.26 from 2k to 20k vectors; B=256 recovers 0.80) and is
documented as an UPPER BOUND — real embedding corpora are clustered,
and uniform random high-dim is the provably-hard regime for every ANN
family. This script makes that claim a measurement instead of a
sentence: it synthesizes a deterministic clustered corpus at the same
10x scale (20k vectors, 64-dim, 200 isotropic Gaussian clusters,
sigma chosen so intra-cluster cosine ~0.9 — the SemDeDup-style shape),
builds the SAME materialized NSW index (self-scaled bucket bits, M=8),
and measures recall@5 at B = 64 (the contract width), 128, and
nsw_beam_width_for(20k) (= 254), against exact brute-force cosine
top-5 computed in DuckDB over the same parquet.

Expected reading (recorded in PERF.md): if the clustered corpus holds
materially more recall at fixed B=64 than the uniform fixture's 0.26,
the n^0.6 rule is confirmed conservative on realistic data — a caller
applying it buys MORE recall margin than the uniform sweep promises,
never less.

Prints one JSON line for PERF.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402

from realtime_event_streaming_spark.operators.similarity import (  # noqa: E402
    _NSW_M,
    nsw_beam_width_for,
    probe_nsw_index,
    write_nsw_index,
)
from realtime_event_streaming_spark.session import get_spark  # noqa: E402

#: scale knobs are env-overridable so the same script records the 20k
#: (10x) point AND the 200k (100x) store-probe point (round-13 verdict
#: item 6) — the premise check below re-validates the stride/cluster
#: coprimality for whatever N_CLUSTERS is chosen
N_VECS = int(os.environ.get("NSW_CLUSTERED_N", 20_000))
DIM = 64
N_CLUSTERS = int(os.environ.get("NSW_CLUSTERED_CLUSTERS", 200))
NOISE_SIGMA = 0.15
N_Q = 100
TOPK = 5
SEED = 20260816
#: graph degree override (None = the contract _NSW_M=8) — the
#: DENSIFICATION lever's measurement knob: at 100x corpus the beam
#: rule alone under-recovers (round 14: rule B=1014 reads 0.644 on
#: the 200k clustered fixture), and the documented production answer
#: is to densify the stored graph as the corpus grows. Patching the
#: module constant is safe here: this is an offline measurement
#: script, and nsw_near_links reads the constant at call time.
M_OVERRIDE = (
    int(os.environ["NSW_CLUSTERED_M"])
    if os.environ.get("NSW_CLUSTERED_M")
    else None
)
#: probe beam widths; default = contract, half-rule, rule
BEAMS_OVERRIDE = (
    [int(b) for b in os.environ["NSW_CLUSTERED_BEAMS"].split(",")]
    if os.environ.get("NSW_CLUSTERED_BEAMS")
    else None
)

CLUSTERED_DIR = os.environ.get(
    "NSW_CLUSTERED_DIR", f"/tmp/rtes_nsw_clustered_{N_VECS}"
)

#: >0 switches to SHARDED mode (round 14): one S-shard index over the
#: corpus (`write_nsw_index(n_shards=S)`: shard = vec_id % S, each
#: shard its own graph with entry node s, strides +/- S x 2^j and
#: bucket bits self-scaled to the shard size), probed with
#: `probe_nsw_index(n_shards=S)` — every query searches every shard in
#: one hop loop and the per-shard results merge by one global top-k
#: (scatter-gather). This measures the `graph_ann_sharded` deployment
#: shape at the scale where the FLAT graph's recall was measured
#: collapsing (200k: 0.644 even at rule width B=1014).
N_SHARDS = int(os.environ.get("NSW_CLUSTERED_SHARDS", "0"))


def synth_clustered(out_dir: str) -> str:
    """Deterministic clustered embeddings in the testdata schema
    (vec_id BIGINT, embedding FLOAT[], label INT). Cluster ids are
    assigned round-robin over vec_id — which IS a periodic similarity
    signal in id space (ids congruent mod N_CLUSTERS are same-cluster)
    — but the index's long links stride by +/- powers of two, and no
    2^j is a multiple of N_CLUSTERS=200 (factor 25), so a long link
    can never shortcut WITHIN a cluster: within-cluster routing must
    come from the near-link graph, the property the sweep needs. The
    check below freezes that premise so a future knob change (e.g.
    N_CLUSTERS=256, where stride 256 IS within-cluster) fails loudly
    instead of silently inverting the measurement's meaning."""
    from realtime_event_streaming_spark.operators.similarity import (
        _NSW_STEPS,
    )

    # explicit raise, not `assert`: the premise check must survive
    # python -O/-OO, where asserts compile out
    if any(s % N_CLUSTERS == 0 for s in _NSW_STEPS):
        raise ValueError(
            "a long-link stride is a multiple of N_CLUSTERS — long "
            "links would shortcut within-cluster and the fixture "
            "premise breaks"
        )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "embeddings.parquet")
    # param-stamped cache: a fixture generated with different knobs
    # (seed, sigma, cluster count) must NOT be silently reused — that
    # would record wrong recall numbers with no warning
    params = {
        "n_vecs": N_VECS,
        "dim": DIM,
        "n_clusters": N_CLUSTERS,
        "noise_sigma": NOISE_SIGMA,
        "seed": SEED,
    }
    stamp = os.path.join(out_dir, "params.json")
    if os.path.exists(path) and os.path.exists(stamp):
        with open(stamp) as fh:
            if json.load(fh) == params:
                return out_dir
        os.remove(path)
    elif os.path.exists(path):
        os.remove(path)
    rng = np.random.default_rng(SEED)
    centroids = rng.standard_normal((N_CLUSTERS, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = np.arange(N_VECS) % N_CLUSTERS
    vecs = centroids[labels] + NOISE_SIGMA * rng.standard_normal(
        (N_VECS, DIM)
    )
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32) for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(tbl, path)
    with open(stamp, "w") as fh:
        json.dump(params, fh)
    return out_dir


def exact_topk(sf_dir: str) -> dict[int, set[int]]:
    with duckdb.connect() as con:
        rows = con.sql(
            f"""
        WITH vecs AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) AS norm
          FROM read_parquet('{sf_dir}/embeddings.parquet')
        ),
        q AS (SELECT * FROM vecs WHERE vec_id < {N_Q}),
        scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 list_dot_product(q.v, c.v) / (q.norm * c.norm) AS cos
          FROM q JOIN vecs c ON c.vec_id <> q.vec_id
        )
        SELECT qid, nid FROM (
          SELECT qid, nid,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cos DESC, nid) AS rn
          FROM scored) WHERE rn <= {TOPK}
        """
        ).fetchall()
    truth: dict[int, set[int]] = {}
    for qid, nid in rows:
        truth.setdefault(qid, set()).add(nid)
    return truth


def check_shard_premise(s_count: int) -> None:
    """The fixture premise, sharded form: two vectors in one shard are
    same-cluster iff their ids differ by a multiple of N_CLUSTERS, and
    a shard's long links stride by S x 2^j, so a stride shortcuts
    within-cluster iff the within-shard cluster period
    N_CLUSTERS/gcd(S, N_CLUSTERS) divides 2^j — reject knob
    combinations where it does (and S sharing all of N_CLUSTERS'
    structure, period <= 1)."""
    import math

    from realtime_event_streaming_spark.operators.similarity import (
        _NSW_STEPS,
    )

    period = N_CLUSTERS // math.gcd(s_count, N_CLUSTERS)
    if period <= 1 or any(st % period == 0 for st in _NSW_STEPS):
        raise ValueError(
            f"shard count {s_count} breaks the fixture premise: the "
            f"within-shard cluster period is {period} and a "
            "long-link stride can shortcut within-cluster"
        )


def mean_recall(got: dict[int, set[int]], truth: dict[int, set[int]]) -> float:
    return round(
        sum(len(got.get(q, set()) & truth[q]) / TOPK for q in truth)
        / len(truth),
        3,
    )


def run_sharded(spark, sf_dir: str, truth: dict[int, set[int]]) -> None:
    """One S-shard production index, scatter-gather probe, global top-k
    merge — recall + wall per per-shard beam width. Beam arms: the
    contract width (cheap reference), the FLAT rule width split
    budget-fairly across shards (same total evaluation budget as the
    recorded flat-graph 100x measurement), and the rule applied
    PER SHARD (each shard inside the rule's validated ~10x envelope —
    the deployment's actual sizing)."""
    import time

    from realtime_event_streaming_spark.operators import similarity
    from realtime_event_streaming_spark.operators.similarity import (
        _vectors,
    )

    if M_OVERRIDE is not None:
        similarity._NSW_M = M_OVERRIDE

    check_shard_premise(N_SHARDS)
    vecs = _vectors(spark, sf_dir)
    qs = vecs.where(F.col("vec_id") < N_Q).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    flat_rule = nsw_beam_width_for(N_VECS)
    shard_rule = nsw_beam_width_for(N_VECS, n_shards=N_SHARDS)
    beams = BEAMS_OVERRIDE or sorted(
        {64, max(1, flat_rule // N_SHARDS), shard_rule}
    )
    with tempfile.TemporaryDirectory() as tmp:
        idx = os.path.join(tmp, "nsw")
        t0 = time.perf_counter()
        write_nsw_index(spark, sf_dir, idx, n_shards=N_SHARDS)
        build_sec = round(time.perf_counter() - t0, 1)
        recalls: dict[str, float] = {}
        walls: dict[str, float] = {}
        for b in beams:
            got: dict[int, set[int]] = {}
            t0 = time.perf_counter()
            for r in probe_nsw_index(
                spark, idx, qs, beam_width=b, n_shards=N_SHARDS
            ).collect():
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
            walls[str(b)] = round(time.perf_counter() - t0, 1)
            recalls[str(b)] = mean_recall(got, truth)
    print(
        json.dumps(
            {
                "fixture": "clustered-sharded",
                "n_vecs": N_VECS,
                "n_clusters": N_CLUSTERS,
                "n_shards": N_SHARDS,
                "per_shard_n": N_VECS // N_SHARDS,
                "M": similarity._NSW_M,
                "flat_rule_B": flat_rule,
                "per_shard_rule_B": shard_rule,
                "build_sec_all_shards": build_sec,
                "recall_at_5": recalls,
                "probe_wall_sec": walls,
                "flat_200k_ruleB_reference": 0.644,
            }
        )
    )


def main() -> None:
    sf_dir = synth_clustered(CLUSTERED_DIR)
    spark = get_spark("nsw-clustered-recall")
    spark.sparkContext.setLogLevel("ERROR")
    truth = exact_topk(sf_dir)
    if N_SHARDS > 0:
        run_sharded(spark, sf_dir, truth)
        return
    from realtime_event_streaming_spark.operators import similarity
    from realtime_event_streaming_spark.operators.similarity import _vectors

    m = _NSW_M
    if M_OVERRIDE is not None:
        m = M_OVERRIDE
        similarity._NSW_M = M_OVERRIDE

    with tempfile.TemporaryDirectory() as tmp:
        idx = os.path.join(tmp, "nsw")
        write_nsw_index(spark, sf_dir, idx)  # self-scaled bucket bits
        vecs = _vectors(spark, sf_dir)
        qs = vecs.where(F.col("vec_id") < N_Q).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
        )
        rule_b = nsw_beam_width_for(N_VECS)
        beams = BEAMS_OVERRIDE or [64, 128, rule_b]
        recalls = {}
        for b in beams:
            got: dict[int, set[int]] = {}
            for r in probe_nsw_index(
                spark, idx, qs, beam_width=b
            ).collect():
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
            recalls[str(b)] = mean_recall(got, truth)
    print(
        json.dumps(
            {
                "fixture": "clustered",
                "n_vecs": N_VECS,
                "n_clusters": N_CLUSTERS,
                "noise_sigma": NOISE_SIGMA,
                "M": m,
                "rule_B": rule_b,
                "recall_at_5": recalls,
                "uniform_20k_B64_reference": 0.26,
            }
        )
    )


if __name__ == "__main__":
    main()
