"""Equivalence pins for the round-15 optimizations.

Every change this round is required to keep each declared query's
result bit-identical; these tests pin the restructured internals
directly (the oracle sweep pins the declared outputs end to end):

- cc_star_labels round shape: window-min star steps + single
  end-of-round distinct + lazy per-round cut vs the r14
  groupBy+join+double-distinct form — same edge sets per round, same
  labels, same round count.
- semdedup_prune semi-join dup detection (EXISTS form) vs the pair
  enumeration it replaced — same dropped set for uncapped and both
  capped shapes (r14-tree goldens at sf0.001/sf0.01 captured before
  the change).
- bench.scan_parallel_copy: the scan-parallel input layout is the
  same table (schema + rows byte-equal via pyarrow) for every sf0.1
  table.
- streaming checkpoint relocation: run_available_now output does not
  depend on where the throwaway checkpoint lives.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from data_table_spark.pipeline.dedup import (
    jaccard_prefix_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingle_rows,
)


def _r14_cc_star_labels(edges, max_iter=50):
    """The pre-r15 cc_star_labels round, verbatim (groupBy+join star
    steps, intermediate distincts, eager localCheckpoint + separate
    signature job) — the equivalence reference."""
    e = (
        edges.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev = None
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        d = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            d.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1000003))).alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev:
            break
        prev = sig
    labels = e.groupBy("u").agg(F.min("v").alias("cluster_id")).select(
        F.col("u").alias("doc_id"), "cluster_id"
    )
    return labels, rounds


def _adversarial_edges(spark):
    """Chain (diameter stress), star, clique, duplicate + reversed
    edges, a self-loop, and a detached triangle-ish tail."""
    edges = []
    edges += [(i, i + 1) for i in range(1, 60)]
    edges += [(100, 100 + i) for i in range(1, 20)]
    edges += [
        (200 + i, 200 + j) for i in range(5) for j in range(i + 1, 5)
    ]
    edges += [(2, 1), (1, 2), (300, 300)]
    edges += [(400, 500), (500, 400), (401, 400)]
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def test_cc_star_round_shape_equivalence(spark):
    from data_table_spark.pipeline.dedup import cc_star_labels

    e = _adversarial_edges(spark)
    new_lbl, new_rounds = cc_star_labels(e)
    old_lbl, old_rounds = _r14_cc_star_labels(e)
    got = sorted((r["doc_id"], r["cluster_id"]) for r in new_lbl.collect())
    want = sorted((r["doc_id"], r["cluster_id"]) for r in old_lbl.collect())
    assert got == want
    assert new_rounds == old_rounds


def test_cc_star_documents_matches_label_propagation(spark, tables):
    """Cross-strategy pin on real data: star and label propagation
    must agree on the documents near-dup graph (they did at r14; the
    r15 round-shape change must keep it so)."""
    from data_table_spark.pipeline.dedup import dedup_clusters

    star = dedup_clusters(tables["documents"].df, threshold=0.8,
                          strategy="star")
    label = dedup_clusters(tables["documents"].df, threshold=0.8,
                           strategy="label")
    s = sorted((r["doc_id"], r["cluster_id"]) for r in star.collect())
    l = sorted((r["doc_id"], r["cluster_id"]) for r in label.collect())
    assert s == l


# dropped (NOT-kept) vec_id sets captured from the r14 tree (pair-
# enumeration + distinct form) BEFORE the semi-join change — the
# regression pin for the EXISTS rewrite. Keyed by (sf, max_cluster_n).
_SEMDEDUP_DROPPED_R14 = {
    ("sf0.001", None): [237, 358],
    ("sf0.001", 4): [237, 358],
    ("sf0.001", 64): [237, 358],
    ("sf0.01", None): [256, 287, 301, 324, 325, 340, 388, 438, 466],
    ("sf0.01", 4): [256, 287, 301, 340, 388, 466],
    ("sf0.01", 64): [256, 287, 301, 324, 325, 340, 388, 438, 466],
}


@pytest.mark.parametrize("cap", [None, 4, 64])
def test_semdedup_semi_matches_pair_form(spark, cap):
    from data_table_spark import load_tables
    from data_table_spark.pipeline.similarity import semdedup_prune

    sf = os.path.basename(SF_DIR.rstrip("/"))
    key = (sf, cap)
    if key not in _SEMDEDUP_DROPPED_R14:
        pytest.skip(f"no r14 golden for {key}")
    t = load_tables(spark, SF_DIR)
    out = semdedup_prune(t["embeddings"].df, k=8, n_iter=2,
                         max_cluster_n=cap)
    dropped = sorted(
        r["vec_id"] for r in out.filter(~F.col("kept")).collect()
    )
    assert dropped == _SEMDEDUP_DROPPED_R14[key]
    # and every vec_id appears exactly once (the left join must not
    # fan out)
    assert out.count() == t["embeddings"].df.count()


def test_scan_parallel_copy_is_same_table():
    import pyarrow.parquet as pq

    from bench import scan_parallel_copy

    d, info = scan_parallel_copy("/root/testdata/sf0.1")
    try:
        assert info["mode"] == "scan_parallel"
        for p in sorted(glob.glob("/root/testdata/sf0.1/*.parquet")):
            name = os.path.basename(p)
            orig = pq.read_table(p)
            new = pq.read_table(os.path.join(d, name))
            assert orig.schema == new.schema, name
            assert orig.equals(new), name
        # the point of the exercise: the big tables actually split
        assert info["n_parts"]["lineitem.parquet"] > 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_checkpoint_location_is_result_invariant(spark, tables):
    """run_available_now output must not depend on the checkpoint
    root (tmpfs default vs an explicit disk dir)."""
    import tempfile

    from data_table_spark.streaming import (
        read_events_stream, run_available_now, tumbling_agg,
    )

    def run():
        ev = read_events_stream(spark, SF_DIR)
        return sorted(
            map(tuple, run_available_now(tumbling_agg(ev)).collect())
        )

    a = run()
    tmp = tempfile.mkdtemp(prefix="ckpt_disk_")
    old = os.environ.get("SPARK_GRAFT_STREAM_CKPT")
    os.environ["SPARK_GRAFT_STREAM_CKPT"] = tmp
    try:
        b = run()
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_STREAM_CKPT", None)
        else:
            os.environ["SPARK_GRAFT_STREAM_CKPT"] = old
        shutil.rmtree(tmp, ignore_errors=True)
    assert a == b


_PAIR_GENERATORS = {
    "ngram_jaccard_pairs": lambda d: ngram_jaccard_pairs(d, 0.8, 3),
    "minhash_auto": lambda d: minhash_lsh_pairs(d, 0.8, 3, broadcast="auto"),
    "minhash_never": lambda d: minhash_lsh_pairs(
        d, 0.8, 3, broadcast="never"
    ),
    "jaccard_prefix_pairs": lambda d: jaccard_prefix_pairs(d, 0.8, 3),
}


@pytest.mark.parametrize("gen", sorted(_PAIR_GENERATORS))
def test_pair_generator_matches_bruteforce(spark, tables, gen):
    """Every Jaccard pair generator (both minhash verification-join
    postures included) against an independent brute-force all-pairs
    jaccard over the same shingle sets, with bit-identical doubles:
    |A∩B| is the same exact integer on every path, so the one division
    must agree exactly. On this corpus every true pair sits at
    j >= 0.9, where the LSH miss probability is ~1e-7, so minhash must
    match too."""
    docs = tables["documents"].df
    got = sorted(map(tuple, _PAIR_GENERATORS[gen](docs).collect()))

    sets: dict = {}
    for doc_id, s in shingle_rows(
        docs.filter(F.col("doc_id").isNotNull()), 3
    ).collect():
        sets.setdefault(doc_id, set()).add(s)
    ids = sorted(sets)
    exp = []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = float(inter) / float(len(sets[a]) + len(sets[b]) - inter)
            if j >= 0.8:
                exp.append((a, b, j))
    assert exp  # the sf0.001 corpus has true near-dups
    assert got == sorted(exp)
