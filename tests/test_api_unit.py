"""API unit tests over small literal tables: edge semantics the big
oracle queries don't isolate (cyclic shift wraparound, frank tie modes,
froll alignment, nafill directions, fsetequal, split, key metadata).
Mirrors the reference's dense-unit-test strategy (SURVEY §5: 13.5k
tests over tiny tables)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_table_spark.core import DT
from data_table_spark.operators.window import (
    shift, froll, frank, rleid, nafill_locf, nafill_nocb,
)
from data_table_spark.operators.setops import (
    funion, fintersect, fsetdiff, fsetequal,
)
from data_table_spark.operators.reshape import split_table


@pytest.fixture(scope="module")
def small(spark):
    rows = [
        ("a", 1, 1.0), ("a", 2, None), ("a", 3, 3.0),
        ("b", 1, 10.0), ("b", 2, 20.0),
    ]
    df = spark.createDataFrame(rows, ["g", "i", "v"])
    return DT(df, order_by=["i"])


def _col(dt, col, order=("g", "i")):
    rows = dt.df.orderBy(*order).collect()
    return [r[col] for r in rows]


def test_shift_lag_fill(small):
    out = shift(small, "v", 1, fill=-1.0, by="g")
    assert _col(out, "v_lag_1") == [-1.0, 1.0, None, -1.0, 10.0]


def test_shift_cyclic_wraps(small):
    out = shift(small, "i", 1, type_="cyclic", by="g")
    assert _col(out, "i_cyclic_1") == [3, 1, 2, 2, 1]


def test_froll_center_align(small):
    out = froll(small, "sum", "i", 3, by="g", align="center", partial=False)
    # full 3-windows only: the middle row of each 3-run
    assert _col(out, "i_rollsum_3") == [None, 6, None, None, None]


def test_frank_tie_modes(spark):
    df = spark.createDataFrame(
        [(10,), (20,), (20,), (30,)], ["x"]
    )
    dt = DT(df, order_by=["x"])
    got = {
        ties: [
            r["rank"]
            for r in frank(dt, "x", ties=ties).df.orderBy("x", "rank").collect()
        ]
        for ties in ["first", "min", "max", "dense", "average"]
    }
    assert got["first"] == [1, 2, 3, 4]
    assert got["min"] == [1, 2, 2, 4]
    assert got["max"] == [1, 3, 3, 4]
    assert got["dense"] == [1, 2, 2, 3]
    assert got["average"] == [1.0, 2.5, 2.5, 4.0]


def test_frank_random_seeded_permutation(spark):
    # 6 rows, all tied on x: ties="random" must assign each rank 1..6
    # exactly once, deterministically for a given seed, and differently
    # across seeds (md5 draw over the tiebreak key).
    df = spark.createDataFrame([(5, i) for i in range(6)], ["x", "id"])
    dt = DT(df, order_by=["id"])

    def ranks(seed):
        out = frank(dt, "x", ties="random", tiebreak=["id"], seed=seed,
                    out_col="rr")
        return [r["rr"] for r in out.df.orderBy("id").collect()]

    r42a, r42b, r7 = ranks(42), ranks(42), ranks(7)
    assert sorted(r42a) == [1, 2, 3, 4, 5, 6]
    assert r42a == r42b          # deterministic per seed
    assert r42a != r7            # seed actually changes the permutation
    # non-tied values still rank by the order column before the salt
    df2 = spark.createDataFrame([(1, 0), (3, 1), (2, 2)], ["x", "id"])
    out2 = frank(DT(df2, order_by=["id"]), "x", ties="random",
                 tiebreak=["id"], out_col="rr")
    assert {r["x"]: r["rr"] for r in out2.df.collect()} == {1: 1, 2: 2, 3: 3}
    with pytest.raises(ValueError):
        frank(dt, "x", ties="random")  # tiebreak is required


def test_bm25_rank_small(spark):
    from data_table_spark.pipeline.text import bm25_rank

    rows = [
        (1, "cat dog cat"),         # tf(cat)=2, short doc
        (2, "cat mouse mouse mouse mouse mouse mouse mouse"),  # long doc
        (3, "dog dog"),
        (4, "bird"),                # no query terms -> excluded
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["bm25"] for r in bm25_rank(df, ["cat", "dog"]).collect()}
    assert set(got) == {1, 2, 3}           # doc 4 scores 0 and is dropped
    assert all(v > 0 for v in got.values())
    # doc 1 beats doc 2 on 'cat': higher tf AND shorter length
    assert got[1] > got[2]


def test_rleid_restarts_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, "x"), ("a", 3, "y"), ("b", 1, "x")],
        ["g", "i", "t"],
    )
    out = rleid(DT(df, order_by=["i"]), ["t"], by=["g"])
    assert _col(out, "rleid") == [1, 1, 2, 1]


def test_nafill_directions(small):
    locf = nafill_locf(small, "v", by="g")
    assert _col(locf, "v") == [1.0, 1.0, 3.0, 10.0, 20.0]
    nocb = nafill_nocb(small, "v", by="g")
    assert _col(nocb, "v") == [1.0, 3.0, 3.0, 10.0, 20.0]


def test_setops_all_semantics(spark):
    x = DT(spark.createDataFrame([(1,), (1,), (2,)], ["k"]))
    y = DT(spark.createDataFrame([(1,), (3,)], ["k"]))
    assert sorted(r["k"] for r in funion(x, y).collect()) == [1, 2, 3]
    assert sorted(r["k"] for r in funion(x, y, all=True).collect()) == [1, 1, 1, 2, 3]
    assert sorted(r["k"] for r in fintersect(x, y).collect()) == [1]
    assert sorted(r["k"] for r in fsetdiff(x, y).collect()) == [2]
    # all=True keeps multiplicity difference: {1,1,2} minus {1} = {1,2}
    assert sorted(r["k"] for r in fsetdiff(x, y, all=True).collect()) == [1, 2]
    assert fsetequal(x, x)
    assert not fsetequal(x, y)


def test_split_table(spark):
    df = spark.createDataFrame([("a", 1), ("b", 2), ("a", 3)], ["g", "v"])
    parts = split_table(DT(df), ["g"], ["a", "b"])
    assert sorted(r["v"] for r in parts["a"].collect()) == [1, 3]
    assert [r["v"] for r in parts["b"].collect()] == [2]


def test_setkey_metadata_and_order(small):
    keyed = small.setkey("g", "i", repartition=False)
    assert keyed.key == ["g", "i"]
    assert keyed.order_by == ["g", "i"]


def test_na_omit_subset(small):
    out = small.na_omit(["v"])
    assert out.count() == 4
    inv = small.na_omit(["v"], invert=True)
    assert inv.count() == 1


def test_let_delete_and_rename(small):
    out = small.let(w=F.col("v") * 2, v=None).setnames({"w": "v2"})
    assert "v" not in out.columns and "v2" in out.columns
    vals = [r["v2"] for r in out.df.orderBy("g", "i").collect()]
    assert vals[0] == 2.0 and vals[1] is None


def test_J_lookup_constructor(spark):
    """J zips vectors row-wise with scalar recycling (unlike CJ's
    cross), and feeds X[J(...)] through lookup."""
    from data_table_spark.operators.joins import J, lookup

    j = J(spark, g=["a", "b"], i=1)
    assert sorted(map(tuple, j.df.collect())) == [("a", 1), ("b", 1)]
    x = DT(spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 30.0)], ["g", "i", "v"]
    ))
    out = lookup(x, j, on=["g", "i"])
    assert sorted(r.v for r in out.df.collect()) == [10.0, 30.0]
    with pytest.raises(ValueError):
        J(spark, a=[1, 2, 3], b=[1, 2])


def test_epoch_upsample_copy_arithmetic(spark):
    """Integer factors replicate exactly; fractional factors add the
    md5-gated extra copy; absent groups drop; epochs number 0..n-1;
    output is deterministic across invocations."""
    from data_table_spark.pipeline.curation import epoch_upsample

    rows = [(i, "a") for i in range(40)] + [(i, "b") for i in range(40, 60)] \
        + [(i, "zzz") for i in range(60, 70)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = epoch_upsample(df, {"a": 2.0, "b": 2.5}).collect()
    got = {}
    for r in out:
        got.setdefault((r.doc_id, r.source), []).append(r.epoch)
    # absent group dropped entirely
    assert not any(s == "zzz" for (_, s) in got)
    # integer factor: exactly 2 copies, epochs [0, 1]
    assert all(sorted(v) == [0, 1] for (d, s), v in got.items() if s == "a")
    # fractional: every row 2 or 3 copies, and SOME of each at n=20
    b_counts = sorted(len(v) for (d, s), v in got.items() if s == "b")
    assert set(b_counts) <= {2, 3} and len(set(b_counts)) == 2
    # deterministic under re-evaluation
    again = epoch_upsample(df, {"a": 2.0, "b": 2.5}).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_let_by_grouped_assign(small):
    """DT[, c := agg(v), by=g]: every row keeps its group's aggregate,
    row count unchanged, null handling matches Spark agg (nulls
    skipped by mean/sum)."""
    out = small.let_by("g", gsum=F.sum("v"), gn=F.count(F.lit(1)))
    assert out.df.count() == 5
    assert _col(out, "gsum") == [4.0, 4.0, 4.0, 30.0, 30.0]
    assert _col(out, "gn") == [3, 3, 3, 2, 2]
    # multi-key by, and composition with a follow-up let
    out2 = small.let_by(["g", "i"], m=F.max("v")).let(
        d=F.col("m") - F.col("v")
    )
    assert _col(out2, "d") == [0.0, None, 0.0, 0.0, 0.0]


def test_which_rows(small):
    dt = DT(small.df.filter(F.col("g") == "a"), order_by=["i"])
    got = sorted(r["which"] for r in dt.which(F.col("v").isNotNull()).collect())
    assert got == [1, 3]
    inv = sorted(r["which"] for r in dt.which(F.col("v").isNotNull(), na=True).collect())
    assert inv == [2]


def test_mult_error_raises(spark):
    from data_table_spark.operators.joins import lookup

    x = DT(spark.createDataFrame([(1, "p"), (1, "q")], ["k", "xv"]), key=["k"])
    y = DT(spark.createDataFrame([(1, "a")], ["k", "yv"]))
    with pytest.raises(ValueError, match="mult"):
        lookup(x, y, on=["k"], mult="error")
    # single-match case passes through
    y2 = DT(spark.createDataFrame([(2, "b")], ["k", "yv"]))
    x2 = DT(spark.createDataFrame([(2, "r")], ["k", "xv"]), key=["k"])
    assert lookup(x2, y2, on=["k"], mult="error").count() == 1


def test_allow_cartesian_guard(spark):
    from data_table_spark.operators.joins import lookup

    x = DT(spark.createDataFrame([(1,), (1,), (1,)], ["k"]), key=["k"])
    y = DT(spark.createDataFrame([(1,), (1,)], ["k"]))
    with pytest.raises(ValueError, match="allow_cartesian"):
        lookup(x, y, on=["k"], allow_cartesian=False)


def test_shift_and_froll_vector_n(small):
    out = shift(small, "i", [1, 2], by="g")
    assert "i_lag_1" in out.columns and "i_lag_2" in out.columns
    assert _col(out, "i_lag_2") == [None, None, 1, None, None]
    r = froll(small, "sum", "i", [2, 3], by="g", partial=True)
    assert "i_rollsum_2" in r.columns and "i_rollsum_3" in r.columns
    assert _col(r, "i_rollsum_2") == [1, 3, 5, 1, 3]


def test_tables_catalog(spark, tables):
    from data_table_spark.core import tables as tables_fn

    cat = tables_fn(spark, tables)
    names = {r["name"] for r in cat.collect()}
    assert {"lineitem", "orders", "events"} <= names


def test_positional_slice(small):
    a_only = DT(small.df.filter(F.col("g") == "a"), order_by=["i"])
    got = [r["i"] for r in a_only.rows(slice(2, 3)).df.orderBy("i").collect()]
    assert got == [2, 3]
    via_getitem = a_only[slice(1, 2)]
    assert via_getitem.count() == 2


def test_measure_sep_multi_melt(spark):
    from data_table_spark.operators.reshape import measure_sep, melt_multi

    df = spark.createDataFrame(
        [(1, 10.0, 11.0, 20.0, 21.0, "x")],
        ["id", "a_1", "a_2", "b_1", "b_2", "other"],
    )
    dt = DT(df)
    groups = measure_sep(dt.columns, sep="_")
    assert groups == {"a": ["a_1", "a_2"], "b": ["b_1", "b_2"]}
    out = melt_multi(dt, id_vars=["id"], measure_groups=groups)
    got = sorted(
        (r["id"], r["a"], r["b"]) for r in out.df.collect()
    )
    assert got == [(1, 10.0, 20.0), (1, 11.0, 21.0)]


def test_frolladaptive_mean(spark):
    from data_table_spark.operators.window import frolladaptive

    df = spark.createDataFrame(
        [(1, 1, 10.0, 1), (1, 2, 20.0, 2), (1, 3, 30.0, 3), (1, 4, 40.0, 2)],
        ["g", "pos", "v", "n"],
    )
    out = frolladaptive(
        DT(df), "v", "n", by=["g"], order=["pos"], fun="mean",
        out_col="m",
    ).df
    got = {r["pos"]: r["m"] for r in out.collect()}
    # pos1: mean(10)=10; pos2: mean(10,20)=15; pos3: mean(10,20,30)=20;
    # pos4: mean(30,40)=35
    assert got == {1: 10.0, 2: 15.0, 3: 20.0, 4: 35.0}


def test_melt_patterns_selector(spark):
    from data_table_spark.operators.reshape import melt, patterns

    df = spark.createDataFrame(
        [(1, 10.0, 20.0, "x")], ["id", "v_a", "v_b", "other"]
    )
    dt = DT(df)
    mv = patterns("^v_", dt.columns)
    assert mv == ["v_a", "v_b"]
    out = melt(dt, id_vars=["id"], measure_vars=mv)
    got = sorted(
        (r["variable"], r["value"]) for r in out.df.collect()
    )
    assert got == [("v_a", 10.0), ("v_b", 20.0)]


def test_repr_preview(small):
    r = repr(small)
    assert "[5 rows x 3 cols]" in r
    assert "g" in r and "1:" in r


def test_fifelse_na_branch(spark):
    from data_table_spark.functions import fifelse

    df = spark.createDataFrame([(1.0,), (None,), (-1.0,)], ["x"])
    out = df.select(
        fifelse(F.col("x") > 0, F.lit("pos"), F.lit("neg"),
                na=F.lit("missing")).alias("r")
    )
    assert [r["r"] for r in out.collect()] == ["pos", "missing", "neg"]


def test_nrow_ncol(small):
    assert small.nrow == 5
    assert small.ncol == 3


def test_chmatchdup_consumes(spark):
    from data_table_spark.functions import chmatchdup_table

    x = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 4)], ["v", "i"]
    )
    t = spark.createDataFrame([("a", 1), ("a", 2), ("c", 3)], ["v", "j"])
    out = chmatchdup_table(x, t, "v", "v", order_x=["i"], order_t=["j"])
    got = {r["i"]: r["match_pos"] for r in out.collect()}
    # three 'a's in x, two in table: third gets NULL; 'b' unmatched
    assert got == {1: 1, 2: 2, 3: None, 4: None}


def test_which_null_predicate(small):
    # NULL-predicate rows are non-matches in BOTH directions
    a = DT(small.df.filter(F.col("g") == "a"), order_by=["i"])
    got = sorted(r["which"] for r in a.which(F.col("v") > 0).collect())
    assert got == [1, 3]
    inv = sorted(r["which"] for r in a.which(F.col("v") > 0, na=True).collect())
    assert inv == [2]  # the NULL row counts as non-matching


def test_shift_negative_n_fill(small):
    out = shift(small, "v", -1, fill=-1.0, by="g")
    # lag(-1) == lead(1): last row of each group gets the fill
    assert _col(out, "v_lag_-1") == [None, 3.0, -1.0, 20.0, -1.0]


def test_slice_step(small):
    a = DT(small.df.filter(F.col("g") == "a"), order_by=["i"])
    got = [r["i"] for r in a.rows(slice(1, 3, 2)).df.orderBy("i").collect()]
    assert got == [1, 3]


def test_frollapply_null_window(spark):
    import numpy as np

    from data_table_spark.operators.window import frollapply

    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 3.0)], ["i", "v"]
    )
    dt = DT(df, order_by=["i"])
    out = frollapply(dt, "v", 3, np.nansum, out_col="r")
    rows = {r["i"]: r["r"] for r in out.df.collect()}
    # window of 3 rows IS full despite the NULL; fn sees NaN
    assert rows[3] == 4.0
    assert rows[1] is None and rows[2] is None  # incomplete windows


def test_fread_skip_lines(spark, tmp_path):
    p = str(tmp_path / "skip.csv")
    with open(p, "w") as f:
        f.write("garbage preamble\nmore garbage\nk,v\n1,a\n2,b\n")
    from data_table_spark.sources import fread

    dt = fread(spark, p, skip=2)
    rows = {r["k"]: r["v"] for r in dt.collect()}
    assert rows == {1: "a", 2: "b"}


# ---------------------------------------------------------------- rollends
# Reference semantics: R/data.table.R:597-608, src/bmerge.c:296-330.
# X (one key group): quotes at t = 10, 20, 30 with values 1, 2, 3.
# I probes: t = 5 (before first), 15 (in a gap), 30 (exact), 35 (past last).
@pytest.fixture(scope="module")
def asof_pair(spark):
    from data_table_spark.core import DT

    x = DT(spark.createDataFrame(
        [("k", 10, 1.0), ("k", 20, 2.0), ("k", 30, 3.0)], ["g", "t", "xv"]
    ), key=["g", "t"])
    i = DT(spark.createDataFrame(
        [("k", 5, 100), ("k", 15, 101), ("k", 30, 102), ("k", 35, 103)],
        ["g", "t", "iid"],
    ), key=["g", "t"])
    return x, i


def _asof_map(x, i, **kw):
    from data_table_spark.operators.asof import asof_join

    out = asof_join(x, i, on=["g"], time_x="t", time_i="t", **kw)
    return {r["iid"]: r["xv"] for r in out.df.collect()}


def test_froll_chunk_stitch(spark):
    """froll n_chunks= halo chunk-stitch: identical output to the
    unsplit window for every fun x align x partial x na_rm sampled,
    including NULL values (na_rm masks), sparse chunks (the spine
    chains halos through empty/short chunks), a hot key, a global
    (by=None) order, and multi-n."""
    import random

    from data_table_spark.core import DT
    from data_table_spark.operators.window import froll

    rng = random.Random(23)
    rows = []
    for g in ["a", "hot"]:
        n_r = 200 if g == "hot" else 12
        ts = rng.sample(range(0, 3000), n_r)
        # cluster "a" times low so its value chunks are mostly empty
        if g == "a":
            ts = [t % 40 for t in ts][:12]
            ts = sorted(set(ts))
        for t in ts:
            rows.append((g, t, None if t % 7 == 0 else float(t % 101)))
    dt = DT(spark.createDataFrame(rows, ["g", "t", "v"]), order_by=["t"])

    cases = [
        ("mean", "right", False, False, [5]),
        ("sum", "right", True, True, [3, 16]),
        ("max", "center", False, True, [7]),
        ("median", "left", True, False, [4]),
        ("var", "right", False, False, [6]),
    ]
    for fun, align, partial, na_rm, ns in cases:
        kw = dict(
            cols="v", n=ns, by="g", align=align, partial=partial,
            na_rm=na_rm,
        )
        want = sorted(map(tuple, froll(dt, fun, **kw).df.collect()))
        for nc in (4, 11):
            got = sorted(
                map(tuple, froll(dt, fun, n_chunks=nc, **kw).df.collect())
            )
            assert got == want, (fun, align, partial, na_rm, nc)

    # global order (by=None): the single-task wall case
    want = sorted(
        map(
            tuple,
            froll(dt, "sum", cols="v", n=9, by=None).df.collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            froll(dt, "sum", cols="v", n=9, by=None, n_chunks=6).df
            .collect(),
        )
    )
    assert got == want

    # shift through the same stitch: lag/lead, multi-n with a negative
    # (direction flip), boundary fill via the stitch's global ranks
    from data_table_spark.operators.window import shift

    for kw in (
        dict(n=1, type_="lag"),
        dict(n=[2, -1], type_="lag", fill=-99.0),
        dict(n=3, type_="lead", fill=0.0),
    ):
        want = sorted(
            map(tuple, shift(dt, "v", by="g", **kw).df.collect())
        )
        got = sorted(
            map(
                tuple,
                shift(dt, "v", by="g", n_chunks=5, **kw).df.collect(),
            )
        )
        assert got == want, kw
    with pytest.raises(ValueError):
        shift(dt, "v", by="g", type_="cyclic", n_chunks=4)

    # running fills and running aggregates through the carry stitch:
    # LOCF/NOCB (NULL runs spanning chunks chain through the spine)
    # and cumsum/cummin/cummax/cumprod/cumcount (associative carries)
    from data_table_spark.operators.window import cumfn, nafill

    for typ in ("locf", "nocb"):
        want = sorted(
            map(
                tuple,
                nafill(dt, "v", type=typ, by="g", suffix="_f").df.collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                nafill(
                    dt, "v", type=typ, by="g", suffix="_f", n_chunks=7
                ).df.collect(),
            )
        )
        assert got == want, typ
    for fun in ("sum", "min", "max", "prod", "count"):
        want = sorted(
            map(tuple, cumfn(dt, fun, "v", by="g").df.collect())
        )
        got = sorted(
            map(
                tuple,
                cumfn(dt, fun, "v", by="g", n_chunks=7).df.collect(),
            )
        )
        assert got == want, fun


def test_asof_chunk_stitch(spark):
    """n_chunks= hot-key chunk-stitch (round-9 verdict item 3): the
    range-split + per-chunk running fill + carry-in stitch returns the
    EXACT unsplit output for every roll type, including same-t
    tiebreaks (equal times share a chunk), NULL payload values (the
    carry is per-column last-non-null), keys with no X rows, chunks
    with no X rows, and a finite staleness limit."""
    import random

    from data_table_spark.core import DT
    from data_table_spark.operators.asof import asof_join

    rng = random.Random(17)
    xrows, irows = [], []
    for g in ["a", "b", "hot"]:
        n_x = 120 if g == "hot" else 8
        ts = rng.sample(range(0, 1000), n_x)
        for t in ts:
            # every third payload NULL: exercises per-column carries
            xrows.append((g, t, None if t % 3 == 0 else float(t)))
        for t in rng.sample(range(-50, 1100), 40):
            irows.append((g, t, len(irows)))
    # exact-time collisions for the tag tiebreak
    xrows.append(("a", 500, 500.0))
    irows.append(("a", 500, 9001))
    # key with I rows but no X rows
    for t in (1, 2, 3):
        irows.append(("ionly", t, 9100 + t))
    x = DT(
        spark.createDataFrame(xrows, ["g", "t", "xv"]), key=["g", "t"]
    )
    i = DT(
        spark.createDataFrame(irows, ["g", "t", "iid"]), key=["g", "t"]
    )

    for roll in (True, "nocb", "nearest", 30, -30):
        base = asof_join(x, i, on=["g"], time_x="t", time_i="t", roll=roll)
        want = sorted(map(tuple, base.df.collect()))
        for nc in (3, 8):
            got = asof_join(
                x, i, on=["g"], time_x="t", time_i="t", roll=roll,
                n_chunks=nc,
            )
            assert sorted(map(tuple, got.df.collect())) == want, (
                f"roll={roll} n_chunks={nc}"
            )
        # non-default rollends through the stitched path too
        base2 = asof_join(
            x, i, on=["g"], time_x="t", time_i="t", roll=roll,
            rollends=(True, True),
        )
        got2 = asof_join(
            x, i, on=["g"], time_x="t", time_i="t", roll=roll,
            rollends=(True, True), n_chunks=5,
        )
        assert sorted(map(tuple, got2.df.collect())) == sorted(
            map(tuple, base2.df.collect())
        ), f"roll={roll} rollends=(True,True)"


def test_rollends_forward_default(asof_pair):
    x, i = asof_pair
    # (False, True): no before-first roll, past-last rolls
    assert _asof_map(x, i, roll=True) == {100: None, 101: 1.0, 102: 3.0, 103: 3.0}


def test_rollends_forward_first_true_last_false(asof_pair):
    x, i = asof_pair
    # (True, False): first value rolls backward, nothing past the last
    assert _asof_map(x, i, roll=True, rollends=(True, False)) == {
        100: 1.0, 101: 1.0, 102: 3.0, 103: None
    }


def test_rollends_forward_both_true(asof_pair):
    x, i = asof_pair
    assert _asof_map(x, i, roll=True, rollends=(True, True)) == {
        100: 1.0, 101: 1.0, 102: 3.0, 103: 3.0
    }


def test_rollends_forward_both_false(asof_pair):
    x, i = asof_pair
    assert _asof_map(x, i, roll=True, rollends=(False, False)) == {
        100: None, 101: 1.0, 102: 3.0, 103: None
    }


def test_rollends_backward_default(asof_pair):
    x, i = asof_pair
    # (True, False): before-first rolls (NOCB), nothing past the last
    assert _asof_map(x, i, roll="nocb") == {
        100: 1.0, 101: 2.0, 102: 3.0, 103: None
    }


def test_rollends_backward_last_true(asof_pair):
    x, i = asof_pair
    # (False, True): no before-first roll; LAST value carries past the end
    assert _asof_map(x, i, roll="nocb", rollends=(False, True)) == {
        100: None, 101: 2.0, 102: 3.0, 103: 3.0
    }


def test_rollends_limit_applies_at_ends(asof_pair):
    x, i = asof_pair
    # roll=6 with rollends=(True, True): limit gates the ends too
    # (man/data.table.Rd: "that limit is also applied when rolling the
    # ends"). t=5 -> next x at 10, dist 5 <= 6 matches; t=35 -> prev at
    # 30, dist 5 <= 6 matches; with roll=4 both ends fall out.
    assert _asof_map(x, i, roll=6, rollends=(True, True)) == {
        100: 1.0, 101: 1.0, 102: 3.0, 103: 3.0
    }
    assert _asof_map(x, i, roll=4, rollends=(True, True)) == {
        100: None, 101: None, 102: 3.0, 103: None
    }


def test_rollends_nearest_ends_off(asof_pair):
    x, i = asof_pair
    # nearest default (True, True) uses the only side available at ends;
    # (False, False) leaves the ends unmatched
    assert _asof_map(x, i, roll="nearest") == {
        100: 1.0, 101: 1.0, 102: 3.0, 103: 3.0
    }
    assert _asof_map(x, i, roll="nearest", rollends=(False, False)) == {
        100: None, 101: 1.0, 102: 3.0, 103: None
    }


def test_dcast_margins_list(spark):
    """margins=['g2'] adds only the g2-collapsed level (no grand total);
    subtotals aggregate raw rows."""
    from data_table_spark.operators.reshape import dcast

    df = spark.createDataFrame(
        [("a", "x", "F", 1.0), ("a", "x", "O", 2.0),
         ("a", "y", "F", 4.0), ("b", "x", "O", 8.0)],
        ["g1", "g2", "st", "v"],
    )
    out = dcast(
        DT(df), ["g1", "g2"], "st", "v",
        fun_agg={"s": F.sum("v")}, pivot_values=["F", "O"],
        margins=["g2"],
    ).df.collect()
    rows = {(r["g1"], r["g2"]): (r["F"], r["O"]) for r in out}
    assert rows[("a", "(all)")] == (5.0, 2.0)
    assert rows[("b", "(all)")] == (None, 8.0)
    assert ("(all)", "(all)") not in rows
    assert rows[("a", "x")] == (1.0, 2.0)
    assert len(rows) == 5  # 3 observed combos + 2 subtotal rows


def test_with_grp_distributed(spark):
    """Distributed .GRP: group numbers are dense, 1-based, in key-sorted
    order; the plan numbers only the DISTINCT keys (window sits above an
    aggregate, the row side joins via broadcast hash join — no global
    window over raw rows)."""
    from data_table_spark.operators.grouping import with_grp

    df = spark.createDataFrame(
        [("b", 1), ("a", 2), ("c", 3), ("a", 4), ("b", 5)], ["g", "v"]
    )
    out = with_grp(DT(df), by="g")
    got = {(r["g"], r["grp"]) for r in out.df.collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3), ("a", 1), ("b", 2)}
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the Window input must be the aggregated distinct-keys side
    import re
    win_idx = plan.index("Window")
    agg_after_win = plan.index("HashAggregate", win_idx)
    assert agg_after_win - win_idx < 600  # window directly over the distinct agg


def test_merge_no_dups(spark):
    """no.dups (reference R/merge.R, #1396): a non-key y column colliding
    with a by.x key name takes the y suffix; no_dups=False reproduces the
    legacy duplicate name."""
    from data_table_spark.operators.joins import merge

    x = DT(spark.createDataFrame([(1, "a")], ["k", "xv"]))
    y = DT(spark.createDataFrame([(1, "dup")], ["j", "k"]))
    out = merge(x, y, by_x=["k"], by_y=["j"])
    assert sorted(out.columns) == ["k", "k_y", "xv"]
    assert out.collect()[0]["k_y"] == "dup"
    legacy = merge(x, y, by_x=["k"], by_y=["j"], no_dups=False)
    assert sorted(legacy.columns) == ["k", "k", "xv"]


def test_frev_reverses_consumed_order(spark):
    """frev flips the declared order for real: a subsequent shift() lags
    in reversed order, rows() counts from the other end."""
    from data_table_spark.operators.window import frev_order, shift

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], ["i", "v"]
    )
    fwd = DT(df, order_by=["i"])
    rev = frev_order(fwd)
    assert rev.order_by == ["-i"]
    lag_rev = {r["i"]: r["v_lag_1"] for r in shift(rev, "v", 1).df.collect()}
    # in reversed order the "previous" row of i=2 is i=3
    assert lag_rev == {3: None, 2: 30.0, 1: 20.0}
    first_row = rev.rows(slice(1, 1)).df.collect()
    assert first_row[0]["i"] == 3
    assert frev_order(rev).order_by == ["i"]


def test_merge_incomparables(spark):
    """incomparables= (reference R/merge.R:86-95, #2587): rows whose key
    is in the list are dropped from both sides — no match, no outer
    survival."""
    from data_table_spark.operators.joins import merge

    x = DT(spark.createDataFrame([(1, "a"), (2, "b"), (9, "z")], ["k", "xv"]))
    y = DT(spark.createDataFrame([(1, "A"), (9, "Z")], ["k", "yv"]))
    out = merge(x, y, by=["k"], all=True, incomparables=[9])
    rows = {r["k"]: (r["xv"], r["yv"]) for r in out.collect()}
    assert rows == {1: ("a", "A"), 2: ("b", None)}


def test_frolladaptive_median(spark):
    from data_table_spark.operators.window import frolladaptive

    df = spark.createDataFrame(
        [(1, 1, 10.0, 1), (1, 2, 40.0, 2), (1, 3, 20.0, 3), (1, 4, 30.0, 2)],
        ["g", "pos", "v", "n"],
    )
    out = frolladaptive(
        DT(df), "v", "n", by=["g"], order=["pos"], fun="median", out_col="m"
    ).df
    got = {r["pos"]: r["m"] for r in out.collect()}
    assert got == {1: 10.0, 2: 25.0, 3: 20.0, 4: 25.0}


def test_frolladaptive_minmax_small(spark):
    from data_table_spark.operators.window import frolladaptive

    df = spark.createDataFrame(
        [(1, 1, 10.0, 1), (1, 2, 40.0, 2), (1, 3, 20.0, 3), (1, 4, 30.0, 1),
         (2, 1, 5.0, 2), (2, 2, 7.0, 1)],
        ["g", "pos", "v", "n"],
    )
    mx = frolladaptive(DT(df), "v", "n", by=["g"], order=["pos"], fun="max", out_col="m").df
    got = {(r["g"], r["pos"]): r["m"] for r in mx.collect()}
    assert got == {(1, 1): 10.0, (1, 2): 40.0, (1, 3): 40.0, (1, 4): 30.0,
                   (2, 1): None, (2, 2): 7.0}
    mn = frolladaptive(DT(df), "v", "n", by=["g"], order=["pos"], fun="min", out_col="m").df
    got = {(r["g"], r["pos"]): r["m"] for r in mn.collect()}
    assert got == {(1, 1): 10.0, (1, 2): 10.0, (1, 3): 10.0, (1, 4): 30.0,
                   (2, 1): None, (2, 2): 7.0}


def test_fsort_and_sj(spark):
    """fsort (reference src/fsort.c parallel sort — here the distributed
    range-partition sort) records direction in the declared order; SJ
    builds a sorted keyed table."""
    from data_table_spark.core import fsort
    from data_table_spark.operators.joins import SJ

    df = spark.createDataFrame([(3,), (1,), (2,)], ["x"])
    up = fsort(DT(df), "x")
    assert [r["x"] for r in up.df.collect()] == [1, 2, 3]
    assert up.order_by == ["x"]
    down = fsort(DT(df), "x", decreasing=True)
    assert [r["x"] for r in down.df.collect()] == [3, 2, 1]
    assert down.order_by == ["-x"]
    # reversed declared order drives ordered operators (e.g. rows())
    assert down.rows(slice(1, 1)).df.collect()[0]["x"] == 3

    sj = SJ(spark, k=[2, 1], v=["b", "a"])
    assert sj.key == ["k", "v"]
    assert [r["k"] for r in sj.df.collect()] == [1, 2]


def test_itime_surface(spark):
    """ITime class surface (reference R/IDateTime.R:175-334): integer
    seconds-of-day with constructors, wrapping arithmetic, format,
    accessors, and truncating round."""
    from pyspark.sql import functions as F

    from data_table_spark.functions import (
        as_itime,
        itime_add,
        itime_format,
        itime_hour,
        itime_minute,
        itime_second,
        round_itime,
    )

    df = spark.createDataFrame(
        [("2024-03-01 13:45:30", "13:45:30", 49530)],
        "ts string, s string, n int",
    ).select(
        as_itime(F.col("ts").cast("timestamp")).alias("from_ts"),
        as_itime("s").alias("from_str"),
        as_itime("n").alias("from_int"),
    )
    r = df.collect()[0]
    assert r.from_ts == r.from_str == r.from_int == 49530

    df2 = spark.createDataFrame([(86399,)], "t int").select(
        itime_add("t", 2).alias("wrapped"),
        itime_format("t").alias("fmt"),
        itime_hour("t").alias("h"),
        itime_minute("t").alias("m"),
        itime_second("t").alias("s"),
        round_itime("t", "hours").alias("rh"),
        round_itime("t", "minutes").alias("rm"),
    )
    r2 = df2.collect()[0]
    assert r2.wrapped == 1
    assert r2.fmt == "23:59:59"
    assert (r2.h, r2.m, r2.s) == (23, 59, 59)
    assert r2.rh == 23 * 3600
    assert r2.rm == 23 * 3600 + 59 * 60

    # negative arithmetic wraps backward through midnight
    df3 = spark.createDataFrame([(10,)], "t int").select(
        itime_add("t", -30).alias("back")
    )
    assert df3.collect()[0].back == 86380


def test_chgroup_first_appearance(spark):
    """chgroup: identical strings grouped, groups in first-appearance
    order of the declared ordering (reference src/chmatch.c chgroup)."""
    from data_table_spark.functions import chgroup

    df = spark.createDataFrame(
        [(1, "b"), (2, "a"), (3, "b"), (4, "c"), (5, "a")],
        "pos int, s string",
    )
    got = [r.s for r in chgroup(df, "s", ["pos"]).collect()]
    assert got == ["b", "b", "a", "a", "c"]


def test_eachi_duplicate_i_rows(spark):
    """by=.EACHI evaluates j once per i ROW, not per distinct key
    (reference R/data.table.R:915-959): two Y rows with the same key
    each produce their own output row."""
    from data_table_spark.operators.joins import eachi

    x = DT(spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0)], "k int, v double"
    ))
    y = DT(spark.createDataFrame(
        [(1,), (1,), (2,)], "k int"
    ))
    out = eachi(x, y, on="k", j={"n": F.count(F.lit(1)),
                                 "s": F.sum("v")})
    rows = sorted(out.df.collect(), key=lambda r: (r.k, r.n))
    # key 1 appears TWICE in y -> two identical groups; key 2 once
    assert [(r.k, r.n, r.s) for r in rows] == [
        (1, 2, 30.0), (1, 2, 30.0), (2, 1, 5.0)
    ]


def test_mergelist_mult_first_last_error(spark):
    """mergelist mult= is per-step cardinality control (reference
    R/mergelist.R:84-259), not a silently-ignored parameter."""
    from data_table_spark.operators.joins import mergelist

    left = DT(spark.createDataFrame([(1, "L1"), (2, "L2")], "k int, l string"))
    dup = DT(
        spark.createDataFrame(
            [(1, 100), (1, 200), (2, 300)], "k int, r int"
        ),
        order_by=["r"],
    )
    first = mergelist([left, dup], on="k", how="left", mult="first")
    got = sorted((r.k, r.r) for r in first.df.collect())
    assert got == [(1, 100), (2, 300)]

    last = mergelist([left, dup], on="k", how="left", mult="last")
    got = sorted((r.k, r.r) for r in last.df.collect())
    assert got == [(1, 200), (2, 300)]

    with pytest.raises(ValueError, match="multiple matches during merge"):
        mergelist([left, dup], on="k", how="left", mult="error")

    # unique right keys pass mult="error" untouched
    uniq = DT(spark.createDataFrame([(1, 100), (2, 300)], "k int, r int"))
    ok = mergelist([left, uniq], on="k", how="left", mult="error")
    assert ok.df.count() == 2

    with pytest.raises(ValueError, match="must be one of"):
        mergelist([left, uniq], on="k", how="left", mult="bogus")


def test_setindex_bucketed_elides_exchange(spark):
    """Physical setindex (bucketed+sorted saveAsTable, reference
    R/setkey.R:11-19): a join on the index columns of two bucketed
    tables must read pre-hashed buckets and run with ZERO exchanges
    before the join — the only shuffle in join+group-by is the final
    group-by (1 Exchange total, vs 3 for the raw-parquet plan)."""
    import contextlib
    import io
    import re

    from data_table_spark.queries import QUERIES

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["setindex_bucketed"](spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    # both scans actually read bucket metadata
    assert plan.count("SelectedBucketsCount") == 2


def test_dedup_exact_ids_null_and_boundary_safe(spark):
    """dedup_exact_ids groups on a length-prefixed md5: NULL patterns
    and value-boundary shifts must NOT merge (concat_ws would drop
    nulls; unprefixed concat would merge ('ab','c') with ('a','bc'))."""
    from data_table_spark.pipeline import dedup_exact_ids

    df = spark.createDataFrame(
        [
            (1, "a", "b"), (2, "a", "b"),       # true dup -> keep 1
            (3, "ab", None), (4, None, "ab"),   # distinct null patterns
            (5, "ab", "c"), (6, "a", "bc"),     # boundary shift
        ],
        "id int, x string, y string",
    )
    kept = sorted(
        r.id for r in dedup_exact_ids(df, ["x", "y"], "id").collect()
    )
    assert kept == [1, 3, 4, 5, 6]


def test_ppjoin_lossless_at_exact_threshold(spark):
    """PPJoin filters must keep a pair whose jaccard is EXACTLY the
    threshold: 0.8*35 floats to 28.000000000000004, so an un-relaxed
    ceil turns the bound into 29 and wrongly prunes |A|=28, |B|=35,
    overlap 28 (jaccard = 28/35 = 0.8). The prefix/length/position
    ceils subtract an epsilon so candidate generation stays lossless."""
    from data_table_spark.pipeline import (
        jaccard_prefix_pairs, ngram_jaccard_pairs,
    )

    words_a = [f"w{i}" for i in range(30)]         # 28 shingles
    words_b = words_a + [f"x{i}" for i in range(7)]  # 35 shingles, 28 shared
    df = spark.createDataFrame(
        [(1, " ".join(words_a)), (2, " ".join(words_b))],
        "doc_id long, text string",
    )
    exact = {(r.doc_a, r.doc_b) for r in
             ngram_jaccard_pairs(df, threshold=0.8).collect()}
    pp = {(r.doc_a, r.doc_b) for r in
          jaccard_prefix_pairs(df, threshold=0.8).collect()}
    assert exact == {(1, 2)}
    assert pp == exact


def test_chgroup_null_keys_kept(spark):
    """chgroup must keep rows whose grouping value is NULL as their own
    group (the agg+join form needs null-safe equality; a plain equi-join
    silently dropped them)."""
    from data_table_spark.functions import chgroup

    df = spark.createDataFrame(
        [(1, "b"), (2, None), (3, "b"), (4, None)],
        "pos int, s string",
    )
    got = [r.s for r in chgroup(df, "s", ["pos"]).collect()]
    assert got == ["b", "b", None, None]


def test_mergelist_mult_rejected_for_semi(spark):
    """mult= must not be silently ignored for join types it cannot
    apply to (semi/anti never multiply; cross multiplies by design)."""
    from data_table_spark.operators.joins import mergelist

    a = DT(spark.createDataFrame([(1,)], "k int"))
    b = DT(spark.createDataFrame([(1,), (1,)], "k int"))
    # reference dtmerge: semi/anti REQUIRE mult != "all" (mergelist.Rraw
    # 101.34-35); mult="error" is valid and raises only on actual
    # multiple matches
    with pytest.raises(ValueError, match="mult!='all'"):
        mergelist([a, b], on="k", how="semi", mult="all")
    with pytest.raises(ValueError, match="multiple matches"):
        mergelist([a, b], on="k", how="semi", mult="error")


def test_namespace_parity_utilities(spark):
    # timetaken formatting tiers (reference R/timetaken.R:4-10)
    import time
    from data_table_spark.functions import (
        timetaken, set_dt_threads, get_dt_threads,
    )

    t0 = time.perf_counter()
    out = timetaken(t0)
    assert "elapsed" in out and out.startswith("0.0")
    assert "cpu" not in out  # no cpu baseline -> no fabricated figure
    assert "cpu" in timetaken(t0, time.process_time())
    assert timetaken(t0 - 5.0).startswith("5.0")      # 0.3fs tier... 5.000s
    assert timetaken(t0 - 30.0).startswith("30.0s")   # .1fs tier
    assert timetaken(t0 - 3700.0).startswith("01:0")  # HH:MM:SS tier

    # setDTthreads maps to shuffle partitions and returns the previous
    prev = get_dt_threads(spark)
    assert set_dt_threads(spark, prev + 1) == prev
    assert get_dt_threads(spark) == prev + 1
    set_dt_threads(spark, prev)

    # setindex records reference-style names; subset/transform verbs
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["x", "g"])
    dt = DT(df).setindex("g").setindex("x", "g")
    assert dt.indices() == ["__g", "__x__g"]
    sub = dt.subset(i=F.col("x") > 1, select=["g"])
    assert sub.df.columns == ["g"] and sub.df.count() == 1
    tr = dt.transform_cols(y=F.col("x") * 2)
    assert [r["y"] for r in tr.df.orderBy("x").collect()] == [2, 4]


def test_measure_pattern_groups():
    from data_table_spark.operators.reshape import measure_pattern

    cols = ["id", "a_1", "a_2", "b_1", "b_2", "b_10", "lone_x"]
    got = measure_pattern(cols, r"^([ab])_(\d+)$")
    assert got == {"a": ["a_1", "a_2"], "b": ["b_1", "b_2", "b_10"]}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        measure_pattern(cols, r"^[ab]_(\d+)$")  # needs 2 groups


def test_winnow_guarantee_and_selectivity(spark):
    """Winnowing's coverage guarantee: any shared substring of length
    >= k + w - 1 produces at least one shared fingerprint; disjoint
    texts share none (md5 collisions aside)."""
    from data_table_spark.pipeline.dedup import winnow_dup_pairs, winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "AAA " + shared + " BBB"),
        (2, "CCCCC " + shared + " DDDD"),   # same substring, shifted
        (3, "zyxwvutsrqponmlkjihgfedcba 0123456789 completely other"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in winnow_dup_pairs(df, k=12, w=8, min_shared=1).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)
    # density: fingerprints ~2/(w+1) of gram count, far below 1.0
    fp = winnow_fingerprints(df, k=12, w=8).groupBy("doc_id").count().collect()
    n_grams = {r[0]: len(r[1]) - 11 for r in rows}
    for r in fp:
        assert r["count"] < 0.6 * n_grams[r["doc_id"]]


def test_dogroups_arrow_matches_pandas(spark):
    """applyInArrow dogroups twin returns exactly what the pandas form
    returns for the same per-group UDTF."""
    import pyarrow as pa
    from data_table_spark.operators.grouping import dogroups, dogroups_arrow

    df = spark.createDataFrame(
        [("a", 3, 1), ("a", 1, 2), ("b", 2, 3), ("a", 2, 4), ("b", 1, 5)],
        ["g", "v", "id"],
    )
    dt = DT(df, order_by=["v", "id"])
    schema = "g string, ord long, id long"

    def fn_pd(pdf):
        pdf = pdf.reset_index(drop=True)
        pdf["ord"] = pdf.index + 1
        return pdf[["g", "ord", "id"]]

    def fn_pa(tbl):
        n = tbl.num_rows
        return pa.table({
            "g": tbl["g"],
            "ord": pa.array(range(1, n + 1), type=pa.int64()),
            "id": tbl["id"].cast(pa.int64()),
        })

    a = sorted(map(tuple, dogroups(dt, ["g"], fn_pd, schema).collect()))
    b = sorted(map(tuple, dogroups_arrow(dt, ["g"], fn_pa, schema).collect()))
    assert a == b


def test_foverlaps_maxgap_minoverlap(spark):
    """maxgap/minoverlap extension on type='any' (the reference reserves
    these args; integer-interval semantics: ov = min(e)-max(s)+1, gap =
    -ov, adjacency is gap 0)."""
    from data_table_spark.operators.overlaps import foverlaps

    x = DT(spark.createDataFrame([(1, 1, 2)], ["xid", "xs", "xe"]))
    rows = [
        (10, 1, 2),    # identical: ov=2
        (11, 2, 5),    # ov=1
        (12, 3, 5),    # adjacent: ov=0, gap=0
        (13, 4, 5),    # gap=1
        (14, 5, 6),    # gap=2
    ]
    y = DT(spark.createDataFrame(rows, ["yid", "ys", "ye"]))

    def ids(**kw):
        out = foverlaps(x, y, by_x=["xs", "xe"], by_y=["ys", "ye"], **kw)
        return sorted(r["yid"] for r in out.df.collect())

    assert ids() == [10, 11]                      # plain any
    assert ids(maxgap=1) == [10, 11, 12, 13]      # touch + gap<=1
    assert ids(minoverlap=2) == [10]              # >=2 shared positions
    with pytest.raises(ValueError):
        ids(maxgap=1, minoverlap=2)
    with pytest.raises(ValueError):
        ids(type_="within", maxgap=1)


def test_cogroup_arrow_matches_pandas(spark):
    """cogroup applyInArrow twin returns exactly what the pandas form
    returns for the same two-table per-key function."""
    import pyarrow as pa
    from data_table_spark.operators.grouping import (
        cogroup_apply, cogroup_apply_arrow,
    )

    x = DT(spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 5)], ["k", "i", "xv"]),
        order_by=["i"])
    y = DT(spark.createDataFrame(
        [("a", 1, 100), ("c", 1, 7)], ["k", "i", "yv"]), order_by=["i"])
    schema = "k string, n_x long, n_y long, sum_xv long"

    def fn_pd(key, xp, yp):
        import pandas as pd
        return pd.DataFrame({
            "k": [key[0]], "n_x": [len(xp)], "n_y": [len(yp)],
            "sum_xv": [int(xp["xv"].sum()) if len(xp) else 0],
        })

    def fn_pa(key, xt, yt):
        import pyarrow.compute as pc
        s = pc.sum(xt["xv"]).as_py() if xt.num_rows else 0
        return pa.table({
            "k": pa.array([key[0].as_py() if hasattr(key[0], "as_py")
                           else key[0]], type=pa.string()),
            "n_x": pa.array([xt.num_rows], type=pa.int64()),
            "n_y": pa.array([yt.num_rows], type=pa.int64()),
            "sum_xv": pa.array([s or 0], type=pa.int64()),
        })

    a = sorted(map(tuple, cogroup_apply(x, y, ["k"], fn_pd, schema).collect()))
    b = sorted(map(tuple, cogroup_apply_arrow(x, y, ["k"], fn_pa, schema).collect()))
    assert a == b


def test_mixture_sample_thresholds_and_cap(spark):
    """Rate arithmetic: a group whose want exceeds its count keeps
    everything (threshold capped at 2^24); a zero-weight group is
    dropped; realized counts approximate want within binomial noise."""
    from data_table_spark.pipeline.curation import mixture_sample

    rows = (
        [(i, "tiny") for i in range(5)]
        + [(100 + i, "big") for i in range(400)]
        + [(1000 + i, "off") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # budget 50% of 455 = 227; shares tiny:60 big:40 (total 100)
    # want_tiny = 227*60//100 = 136 > 5  -> cap: keep all 5
    # want_big  = 227*40//100 = 90 of 400 -> thr = 90*2^24//400
    out = mixture_sample(
        df, {"tiny": 60, "big": 40}, budget_pct=50
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, 0)
        by_src[r.source] += 1
    assert by_src.get("tiny") == 5  # capped: all kept
    assert "off" not in by_src  # zero-weight group dropped
    # binomial(400, 90/400): expect ~90, allow wide noise band
    assert 55 <= by_src.get("big", 0) <= 125
    # determinism: second run returns the identical id set
    out2 = mixture_sample(df, {"tiny": 60, "big": 40}, budget_pct=50).collect()
    assert sorted(r.doc_id for r in out) == sorted(r.doc_id for r in out2)


def test_shuffle_shards_is_a_permutation(spark):
    """(shard, pos) is a proper numbering: positions within each shard
    are exactly 1..count, every input id appears once, and the order is
    seed-sensitive but seed-deterministic."""
    from data_table_spark.pipeline.curation import shuffle_shards

    df = spark.createDataFrame(
        [(i,) for i in range(300)], "doc_id long"
    )
    out = shuffle_shards(df, n_shards=4, seed=7).collect()
    assert sorted(r.doc_id for r in out) == list(range(300))
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(4))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # deterministic under same seed, different under another seed
    again = shuffle_shards(df, n_shards=4, seed=7).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = shuffle_shards(df, n_shards=4, seed=8).collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))


def test_split_by_cluster_keeps_near_dups_together(spark):
    """Near-duplicate docs (same cluster) always land on the same split
    side, and both splits are non-empty on a corpus with many
    singleton clusters."""
    from data_table_spark.pipeline.curation import split_by_cluster

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(1, base * 3), (2, base * 3 + "extra token"), (3, base * 3)]
    # many distinct singletons so both split sides appear
    rows += [
        (10 + i, f"unique document number {i} " + " ".join(
            f"w{i}x{j}" for j in range(30)))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = split_by_cluster(df, threshold=0.8, test_pct=30).collect()
    split_of = {r.doc_id: r.split for r in out}
    cluster_of = {r.doc_id: r.cluster_id for r in out}
    # 1,2,3 are near-dups of each other -> one cluster, one side
    assert cluster_of[1] == cluster_of[2] == cluster_of[3]
    assert split_of[1] == split_of[2] == split_of[3]
    assert {"train", "test"} == set(split_of.values())


def test_bigram_lm_score_matches_hand_computation(spark):
    """Tiny corpus where the add-one bigram LM is computable by hand."""
    import math

    from data_table_spark.pipeline.text import bigram_lm_scores

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "c a")],
        "doc_id long, text string",
    )
    # bigrams: d1: (a,b),(b,a),(a,b)  d2: (a,b)  d3: (c,a)
    # C2: (a,b)=4? no: (a,b) appears 3 (d1 twice, d2 once); (b,a)=1; (c,a)=1
    # C1: a=4? a as head: d1 pos1,pos3 + d2 pos1 = 3... recount:
    #   heads: d1: a,b,a ; d2: a ; d3: c  -> C1(a)=3, C1(b)=1, C1(c)=1
    # V = |{a,b,c}| = 3
    lp = {
        ("a", "b"): round(math.log((3 + 1) / (3 + 3)) * 1e6),
        ("b", "a"): round(math.log((1 + 1) / (1 + 3)) * 1e6),
        ("c", "a"): round(math.log((1 + 1) / (1 + 3)) * 1e6),
    }
    expect = {
        1: (3, (2 * lp[("a", "b")] + lp[("b", "a")]) / (3 * 1e6)),
        2: (1, lp[("a", "b")] / 1e6),
        3: (1, lp[("c", "a")] / 1e6),
    }
    out = {r.doc_id: (r.n_bigrams, r.avg_lp) for r in bigram_lm_scores(df).collect()}
    assert set(out) == set(expect)
    for k in expect:
        assert out[k][0] == expect[k][0]
        assert abs(out[k][1] - expect[k][1]) < 1e-9


def test_stream_neardup_screen_finds_planted_dup(spark):
    """The streaming screen flags a planted near-duplicate of a static
    corpus doc (both orientations when both stream), never a self-match,
    and its band hashes agree with the batch lsh_band_index (same
    permutations → stream-static join actually hits)."""
    import tempfile

    from data_table_spark.core import TABLE_SCHEMAS
    from data_table_spark.pipeline.dedup import lsh_band_index
    from data_table_spark.streaming import (
        run_available_now,
        stream_neardup_screen,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(39)) + " tokX"
    far = " ".join(f"other{i}" for i in range(40))
    rows = [
        (1, base, "en", "srcA", len(base)),
        (2, near, "en", "srcA", len(near)),
        (3, far, "en", "srcB", len(far)),
    ]
    docs = spark.createDataFrame(rows, TABLE_SCHEMAS["documents"])
    with tempfile.TemporaryDirectory() as d:
        docs.coalesce(1).write.mode("overwrite").parquet(f"{d}/docs")
        stream = spark.readStream.schema(TABLE_SCHEMAS["documents"]).parquet(f"{d}/docs")
        out = run_available_now(
            stream_neardup_screen(stream, docs, n=3, threshold=0.8)
        ).collect()
    got = {(r.doc_id, r.match_id): r.jaccard for r in out}
    # 1<->2 share 37 of 38+38 distinct 3-gram shingles -> jaccard ~0.95
    assert (1, 2) in got and (2, 1) in got
    assert got[(1, 2)] == got[(2, 1)] > 0.8
    assert all(a != b for a, b in got)
    assert not any(3 in pair for pair in got)
    # the batch index rows for doc 1 match the stream side's bands:
    # a (band, bh) self-consistency probe through the public surface
    idx = lsh_band_index(docs, 3)
    assert idx.filter(F.col("doc_id") == 1).count() > 0


def test_funnel_stages_strict_ordering(spark):
    """Funnel semantics: steps must occur strictly after the previous
    step's first occurrence — same-timestamp pairs don't chain, earlier
    occurrences of later steps don't count, users missing step 1 are
    absent."""
    from data_table_spark.operators.window import funnel_stages

    rows = [
        # u1: full funnel in order
        (1, "view", 100), (1, "click", 200), (1, "purchase", 300),
        # u2: click BEFORE view -> stage stops at view
        (2, "click", 50), (2, "view", 100),
        # u3: click at the SAME ts as view -> strict, doesn't chain
        (3, "view", 100), (3, "click", 100),
        # u4: no view at all -> absent
        (4, "click", 10), (4, "purchase", 20),
        # u5: purchase before click -> stage 2
        (5, "view", 10), (5, "purchase", 15), (5, "click", 20),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts_us long"
    )
    out = {r.user_id: r for r in
           funnel_stages(ev, ["view", "click", "purchase"]).collect()}
    assert set(out) == {1, 2, 3, 5}
    assert (out[1].stage, out[1].t1, out[1].t2, out[1].t3) == (3, 100, 200, 300)
    assert (out[2].stage, out[2].t2) == (1, None)
    assert (out[3].stage, out[3].t2) == (1, None)
    assert (out[5].stage, out[5].t2, out[5].t3) == (2, 20, None)


def test_funnel_stages_within_window(spark):
    """within_us bounds each step to a conversion window after the
    previous step's first occurrence."""
    from data_table_spark.operators.window import funnel_stages

    rows = [
        (1, "view", 100), (1, "click", 150), (1, "purchase", 190),
        # u2: click arrives 200 after view -> outside within=100
        (2, "view", 100), (2, "click", 300), (2, "purchase", 350),
        # u3: click in window, purchase 500 after click -> stage 2
        (3, "view", 100), (3, "click", 150), (3, "purchase", 700),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts_us long"
    )
    out = {r.user_id: r.stage for r in funnel_stages(
        ev, ["view", "click", "purchase"], within_us=100).collect()}
    assert out == {1: 3, 2: 1, 3: 2}
    # unbounded form unchanged
    out2 = {r.user_id: r.stage for r in funnel_stages(
        ev, ["view", "click", "purchase"]).collect()}
    assert out2 == {1: 3, 2: 3, 3: 3}


def test_streaming_checkpoint_exactly_once(spark):
    """Production streaming posture: a file-sink query with a
    checkpointLocation restarted over a grown source processes ONLY the
    new files (offset tracking survives restart; no duplicates, no
    loss) — the exactly-once contract the memory-sink test harness
    doesn't exercise."""
    import tempfile

    schema = "id long, v string"
    with tempfile.TemporaryDirectory() as d:
        src, sink, ckpt = f"{d}/src", f"{d}/sink", f"{d}/ckpt"

        def run_once():
            q = (
                spark.readStream.schema(schema).parquet(src)
                .withColumn("v2", F.upper("v"))
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        spark.createDataFrame(
            [(i, f"a{i}") for i in range(100)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        run_once()
        first = spark.read.parquet(sink).collect()
        assert sorted(r.id for r in first) == list(range(100))

        # grow the source; restart from the SAME checkpoint
        spark.createDataFrame(
            [(i, f"b{i}") for i in range(100, 150)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        run_once()
        both = spark.read.parquet(sink).collect()
        # exactly-once: every id exactly once, transform applied
        ids = sorted(r.id for r in both)
        assert ids == list(range(150))
        assert all(r.v2 == r.v.upper() for r in both)


def test_froll_na_rm_semantics(small):
    """Reference parity: froll default na.rm=FALSE poisons any window
    containing an NA; na_rm=True skips NAs (Spark's native behavior)."""
    from data_table_spark.operators.window import froll

    # g='a' v = [1.0, None, 3.0]; rolling sum width 2, right-aligned
    strict = froll(small, "sum", "v", 2, by="g")
    vals = _col(strict, "v_rollsum_2")
    # a: [None(partial), None(NA in win), None(NA in win)], b: [None, 30.0]
    assert vals == [None, None, None, None, 30.0]
    skip = froll(small, "sum", "v", 2, by="g", na_rm=True)
    vals2 = _col(skip, "v_rollsum_2")
    # windows skip the NA: [partial, 1.0, 3.0], [partial, 30.0]
    assert vals2 == [None, 1.0, 3.0, None, 30.0]


def test_gforce_strict_na_semantics(spark):
    """gforce_strict restores R's na.rm=FALSE default: a group with any
    NA aggregates to NA; the repo default (ANSI/oracle semantics)
    skips nulls."""
    from data_table_spark.operators.grouping import GFORCE, gforce_strict

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", 5.0)], ["g", "v"]
    )
    out = {r.g: (r.s_strict, r.s_skip) for r in df.groupBy("g").agg(
        gforce_strict("sum", "v").alias("s_strict"),
        GFORCE["sum"](F.col("v")).alias("s_skip"),
    ).collect()}
    assert out["a"] == (None, 1.0)
    assert out["b"] == (5.0, 5.0)


def test_lsh_pairs_max_bucket_cap(spark):
    """The hot-bucket cap bounds the bucket join on clustered inputs:
    capped output is a subset of the uncapped pairs, and a cap below a
    planted mega-cluster's size drops its intra-cluster pairs while
    keeping pairs from small buckets."""
    import numpy as np

    from data_table_spark.pipeline.similarity import lsh_pairs

    rng = np.random.RandomState(7)
    base = rng.randn(64)
    # mega-cluster: 40 near-identical vectors; plus 2 isolated near-dups
    rows = [(i, (base + rng.randn(64) * 0.01).astype("float32").tolist(), 0)
            for i in range(40)]
    other = rng.randn(64)
    rows += [(100, other.astype("float32").tolist(), 1),
             (101, (other + rng.randn(64) * 0.01).astype("float32").tolist(), 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    full = {(r.vec_a, r.vec_b)
            for r in lsh_pairs(df, threshold=0.9, n_tables=6, n_planes=4).collect()}
    capped = {(r.vec_a, r.vec_b)
              for r in lsh_pairs(df, threshold=0.9, n_tables=6, n_planes=4,
                                 max_bucket=8).collect()}
    assert capped <= full
    # the small-bucket near-dup pair survives the cap
    assert (100, 101) in capped
    # the mega-cluster's pairs are (mostly) dropped by the cap
    mega_full = {p for p in full if p[0] < 40 and p[1] < 40}
    mega_capped = {p for p in capped if p[0] < 40 and p[1] < 40}
    assert len(mega_full) > 0
    assert len(mega_capped) < len(mega_full)


def test_transpose_distributed_matches_driver_form(spark):
    """group+pivot transpose equals the collect-based form on the same
    table, and enforces its contracts (unique order key, column cap)."""
    import pytest

    from data_table_spark.core import DT
    from data_table_spark.operators.reshape import (
        transpose,
        transpose_distributed,
    )

    df = spark.createDataFrame(
        [(f"k{i:03d}", i, float(i) * 1.5) for i in range(50)],
        "k string, a int, b double",
    )
    dist = transpose_distributed(DT(df), order=["k"])
    drv = transpose(DT(df.orderBy("k")), spark)
    key = lambda rows: sorted(tuple(r) for r in rows)
    assert sorted(dist.columns) == sorted(drv.columns)
    got = key(dist.df.select(*drv.columns).collect())
    want = key(drv.df.collect())
    assert got == want

    with pytest.raises(ValueError, match="unique"):
        dup = spark.createDataFrame([("x", 1), ("x", 2)], "k string, a int")
        transpose_distributed(DT(dup), order=["k"])
    with pytest.raises(ValueError, match="order"):
        transpose_distributed(DT(df))


def test_transpose_distributed_no_collect_medium(spark):
    """5k rows x 6 cols transposes without any driver collect of cells
    (the plan is pure join+stack+pivot; only scalar counts hit the
    driver) — the r5-verdict medium-table cliff removal."""
    from data_table_spark.core import DT
    from data_table_spark.operators.reshape import transpose_distributed

    df = spark.range(5000).selectExpr(
        "format_string('r%05d', id) AS k",
        "id AS a", "id * 2 AS b", "CAST(id AS DOUBLE) / 7 AS c",
        "concat('s', id % 13) AS d", "id % 2 = 0 AS e",
    )
    out = transpose_distributed(DT(df), order=["k"])
    assert len(out.columns) == 5001
    rows = {r["column"]: r for r in out.df.collect()}
    assert set(rows) == {"k", "a", "b", "c", "d", "e"}
    assert rows["a"]["V1"] == "0"
    assert rows["a"]["V5000"] == "4999"
    assert rows["k"]["V42"] == "r00041"


def test_frollapply_adaptive_contracts(spark):
    """Adaptive frollapply: per-row widths honored, incomplete windows
    NULL, source NULLs reach fn as NaN (frollapply's convention), and
    window value order is the declared row order."""
    import math

    from data_table_spark.core import DT
    from data_table_spark.operators.window import frollapply_adaptive

    rows = [
        # g, pos-order key, value, window width
        ("a", 1, 10.0, 1),
        ("a", 2, 20.0, 2),
        ("a", 3, None, 2),   # NULL value: fn sees NaN in windows covering it
        ("a", 4, 40.0, 3),
        ("b", 1, 5.0, 2),    # incomplete (needs 2, has 1) -> NULL
        ("b", 2, 7.0, 2),
    ]
    df = spark.createDataFrame(rows, "g string, k int, v double, nn int")

    def last_minus_first(a):
        # order-sensitive fn: proves the array preserves row order
        if any(math.isnan(x) for x in a):
            return float("nan")
        return a[-1] - a[0]

    out = frollapply_adaptive(
        DT(df), "v", "nn", last_minus_first, by=["g"], order=["k"],
        out_col="r",
    )
    got = {(r["g"], r["k"]): r["r"] for r in out.df.collect()}
    assert got[("a", 1)] == 0.0          # width 1: v - v
    assert got[("a", 2)] == 10.0         # 20 - 10, order preserved
    # fn saw NaN for the NULL source value and returned NaN; pandas ->
    # Arrow maps a NaN result to NULL (data.table's NA), not a NaN cell
    assert got[("a", 3)] is None
    assert got[("a", 4)] is None         # window [20, NULL, 40]
    assert got[("b", 1)] is None         # incomplete window
    assert got[("b", 2)] == 2.0          # 7 - 5


def test_print_data_table_fidelity(spark):
    """format_dt matches reference R/print.data.table.R rules: topn +
    '---' + TRUE bottom row numbers past nrows, whole-table print under
    nrows, class abbreviation row, Key:/Index: header, col.names modes,
    cell truncation, character NA as <NA>, empty/zero-col messages."""
    from data_table_spark.core import DT, format_dt

    df = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(1, 151)],
        "id int, s string, x double",
    )
    dt = DT(df, order_by=["id"], key=["id"]).setindex("s")

    out = format_dt(dt)
    lines = out.splitlines()
    assert lines[0] == "Key: <id>"
    assert lines[1] == "Index: <s>"
    assert "---" in out
    assert "1:" in lines[3] and lines[-1].strip().startswith("150:")
    # topn rows above and below the break
    import re

    body = [l for l in lines if re.match(r"^\s*\d+:", l)]
    assert len(body) == 10

    # under nrows -> whole table, no break; >20 rows + auto -> names
    # repeated at the bottom
    small_n = 25
    df2 = spark.createDataFrame(
        [(i,) for i in range(1, small_n + 1)], "id int"
    )
    out2 = format_dt(DT(df2, order_by=["id"]))
    assert "---" not in out2
    assert out2.splitlines()[-1].strip() == "id"  # bottom repeat
    assert f"{small_n}:" in out2

    # explicit topn forces the dots even under nrows (reference
    # topnmiss rule)
    out3 = format_dt(DT(df2, order_by=["id"]), topn=3)
    assert "---" in out3 and "25:" in out3

    # class row + col_names none + NA rendering
    df3 = spark.createDataFrame(
        [(1, None, None)], "a bigint, s string, x double"
    )
    out4 = format_dt(DT(df3), class_=True)
    assert "<i64>" in out4 and "<char>" in out4 and "<num>" in out4
    assert "<NA>" in out4 and " NA" in out4
    out5 = format_dt(DT(df3), col_names="none")
    assert "a" not in out5.splitlines()[0]

    # truncation
    df4 = spark.createDataFrame([("abcdefghij",)], "s string")
    assert "abc..." in format_dt(DT(df4), trunc_char=3)

    # empty & null
    assert format_dt(DT(df.filter("id > 999"))).startswith(
        "Empty data.table (0 rows and 3 cols)"
    )
    assert format_dt(DT(df.select())) == "Null data.table (0 rows and 0 cols)"

    # nrows <= 0 turns printing off
    assert format_dt(dt, nrows=0) == ""


def test_foverlaps_bucketed_matches_broadcast(spark):
    """foverlaps_bucketed == foverlaps on every type, on maxgap /
    minoverlap, on nomatch='NA', and on mult, across bucket widths that
    force single- and multi-bucket replication. Also asserts the
    physical plan never contains a BroadcastNestedLoopJoin (the whole
    point of the big-big variant)."""
    import random

    from data_table_spark.operators.overlaps import foverlaps, foverlaps_bucketed

    rng = random.Random(42)
    xrows = [
        (i, rng.randrange(3), s := rng.randrange(0, 60), s + rng.randrange(0, 15))
        for i in range(40)
    ]
    yrows = [
        (i, rng.randrange(3), s := rng.randrange(0, 60), s + rng.randrange(0, 15))
        for i in range(40)
    ]
    x = DT(spark.createDataFrame(xrows, ["xid", "k", "xs", "xe"]))
    y = DT(spark.createDataFrame(yrows, ["yid", "k", "ys", "ye"]))
    by_x, by_y = ["k", "xs", "xe"], ["k", "ys", "ye"]

    def pairs(out):
        return sorted(
            (r["xid"], r["yid"]) for r in out.df.select("xid", "yid").collect()
        )

    cases = [
        dict(type_="any"), dict(type_="within"), dict(type_="start"),
        dict(type_="end"), dict(type_="equal"),
        dict(type_="any", maxgap=3), dict(type_="any", minoverlap=4),
        dict(type_="any", nomatch="NA"),
    ]
    for kw in cases:
        ref = pairs(foverlaps(x, y, by_x, by_y, **kw))
        for w in (1, 7, 100):
            got_dt = foverlaps_bucketed(x, y, by_x, by_y, bucket_width=w, **kw)
            assert pairs(got_dt) == ref, (kw, w)
            plan = got_dt.df._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastNestedLoop" not in plan, (kw, w)

    # mult='first'/'last' pick the same single y per x row
    x1 = DT(x.df)
    x1.order_by = ["xid"]
    for mult in ("first", "last"):
        ref = pairs(foverlaps(x1, y, by_x, by_y, mult=mult))
        got = pairs(foverlaps_bucketed(x1, y, by_x, by_y, bucket_width=7, mult=mult))
        assert got == ref, mult

    with pytest.raises(ValueError):
        foverlaps_bucketed(x, y, by_x, by_y)  # bucket_width required


def test_inrange_bucketed_matches_broadcast(spark):
    """inrange(bucket_width=) == the broadcast semi join for inclusive
    and exclusive bounds, with and without equi keys, across bucket
    widths; plan is nested-loop free."""
    import random

    from data_table_spark.operators.overlaps import inrange

    rng = random.Random(7)
    pts = [(i, rng.randrange(2), float(rng.randrange(0, 100))) for i in range(60)]
    rgs = [(rng.randrange(2), s := float(rng.randrange(0, 95)), s + rng.randrange(0, 12))
           for _ in range(25)]
    x = DT(spark.createDataFrame(pts, ["xid", "k", "v"]))
    r = DT(spark.createDataFrame(rgs, ["k", "lo", "hi"]))

    def ids(**kw):
        out = inrange(x, "v", r, "lo", "hi", **kw)
        return sorted(row["xid"] for row in out.df.collect())

    for kw in (dict(), dict(incbounds=False), dict(keys=["k"]),
               dict(keys=["k"], incbounds=False)):
        ref = ids(**kw)
        for w in (1, 5, 50):
            got_dt = inrange(x, "v", r, "lo", "hi", bucket_width=w, **kw)
            got = sorted(row["xid"] for row in got_dt.df.collect())
            assert got == ref, (kw, w)
            plan = got_dt.df._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastNestedLoop" not in plan, (kw, w)

    with pytest.raises(ValueError):
        inrange(x, "v", r, "lo", "hi", bucket_width=0)


def test_inrange_merged_equals_naive(spark):
    """The r14 disjoint-interval-union pre-pass is output-invariant:
    inrange == the naive per-range semi join on adversarial ranges —
    touching endpoints (merge iff incbounds: x = 5 is in [3,5] u [5,8]
    but not in (3,5) u (5,8)), nested, duplicated, empty (lo > hi) and
    NULL-bound ranges, NULL keys — for both bounds modes, keyed and
    unkeyed. The naive reference is computed row-locally in Python
    from the same inputs."""
    from data_table_spark.operators.overlaps import _merge_ranges, inrange

    pts = [(i, i % 2, float(v)) for i, v in enumerate(
        [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 2, 5, 5, 8, 20]
    )]
    rgs = [
        (0, 3.0, 5.0), (0, 5.0, 8.0),       # touching at 5
        (0, 1.0, 10.0), (0, 2.0, 4.0),      # nested
        (0, 3.0, 5.0),                      # duplicate
        (0, 12.0, 11.0),                    # empty (lo > hi)
        (0, None, 7.0), (0, 7.0, None),     # NULL bounds
        (1, 0.0, 1.0), (1, 1.0, 2.0),       # touching chain
        (1, 6.0, 6.0),                      # degenerate point
        (None, 0.0, 100.0),                 # NULL key
    ]
    x = DT(spark.createDataFrame(pts, "xid int, k int, v double"))
    r = DT(spark.createDataFrame(rgs, "k int, lo double, hi double"))

    def naive(keyed, inc):
        keep = set()
        for xid, xk, v in pts:
            for rk, lo, hi in rgs:
                if lo is None or hi is None:
                    continue
                if keyed and (rk is None or xk != rk):
                    continue
                if (lo <= v <= hi) if inc else (lo < v < hi):
                    keep.add(xid)
                    break
        return sorted(keep)

    for keyed in (False, True):
        for inc in (False, True):
            kw = dict(incbounds=inc, **(dict(keys=["k"]) if keyed else {}))
            got = sorted(
                row["xid"] for row in inrange(x, "v", r, "lo", "hi", **kw).df.collect()
            )
            assert got == naive(keyed, inc), (keyed, inc)

    # and the merge itself produces DISJOINT, sorted-minimal intervals
    merged = _merge_ranges(r.df, "lo", "hi", ["k"], True).collect()
    by_k = {}
    for row in merged:
        by_k.setdefault(row["k"], []).append((row["lo"], row["hi"]))
    for k, ivs in by_k.items():
        ivs.sort()
        for (al, ah), (bl, bh) in zip(ivs, ivs[1:]):
            assert ah < bl, (k, ivs)  # strictly disjoint, not even touching


def test_suggest_bucket_width(spark):
    """suggest_bucket_width returns the interval-length quantile,
    floored at 1, and plugs into foverlaps_bucketed."""
    from data_table_spark.operators.overlaps import (
        foverlaps, foverlaps_bucketed, suggest_bucket_width,
    )

    rows = [(i, float(i), float(i + 10)) for i in range(50)]
    x = DT(spark.createDataFrame(rows, ["xid", "s", "e"]))
    w = suggest_bucket_width(x, "s", "e")
    assert 9.0 <= w <= 11.0  # all lengths are exactly 10

    tiny = DT(spark.createDataFrame([(1, 0.0, 0.1)], ["xid", "s", "e"]))
    assert suggest_bucket_width(tiny, "s", "e") == 1.0  # floor

    y = DT(spark.createDataFrame(
        [(j, float(3 * j), float(3 * j + 4)) for j in range(30)],
        ["yid", "ys", "ye"],
    ))
    ref = sorted(
        (r["xid"], r["yid"])
        for r in foverlaps(x, y, ["s", "e"], ["ys", "ye"]).df.collect()
    )
    got = sorted(
        (r["xid"], r["yid"])
        for r in foverlaps_bucketed(
            x, y, ["s", "e"], ["ys", "ye"], bucket_width=w
        ).df.collect()
    )
    assert got == ref


def test_dup_span_profile(spark):
    """dup_span_profile: interval-union coverage of cross-doc duplicated
    n-grams — overlapping matches must not double-count, and a gram
    repeated only WITHIN one doc must not mark it duplicated."""
    from data_table_spark.pipeline import dup_span_profile

    shared = "a b c d e f"  # 6 tokens -> two 5-gram starts, both shared
    docs = [
        (1, f"{shared} x y z w"),        # dup spans cover tokens 0..5
        (2, f"p q r {shared}"),          # same two grams, offset 3
        (3, "u v w x y"),                # 5 unique tokens, no dup
        (4, "short text"),               # < n tokens: zero grams
        (5, "m n o m n o m n o m n o"),  # intra-doc repeats only
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_frac"])
        for r in dup_span_profile(df, n=5, min_df=2).collect()
    }
    # docs 1 and 2: starts {0,1} / {3,4} -> union [0,6) / [3,9) = 6 tokens
    assert got[1] == (10, 6, 0.6)
    assert got[2] == (9, 6, 6 / 9)
    assert got[3] == (5, 0, 0.0)
    assert got[4] == (2, 0, 0.0)
    # doc 5's grams repeat positionally inside the doc but exist in ONE
    # distinct doc -> df=1 < min_df
    assert got[5] == (12, 0, 0.0)

    # general min_df branch (distinct + df count): no gram reaches 3
    # distinct docs in this fixture
    got3 = {
        r["doc_id"]: r["dup_tokens"]
        for r in dup_span_profile(df, n=5, min_df=3).collect()
    }
    assert got3 == {1: 0, 2: 0, 3: 0, 4: 0, 5: 0}



def test_dedup_spans_remove(spark):
    """dedup_spans_remove drops every token inside a cross-doc
    duplicated n-gram span and reassembles the remainder in order."""
    from data_table_spark.pipeline import dedup_spans_remove

    shared = "a b c d e f"
    docs = [
        (1, f"{shared} x y z w"),   # tokens 0-5 covered -> keep x y z w
        (2, f"p q r {shared}"),     # tokens 3-8 covered -> keep p q r
        (3, "u v w x y"),           # untouched
        (4, "short text"),          # < n tokens: untouched
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["kept_tokens"], r["text_clean"])
        for r in dedup_spans_remove(df, n=5, min_df=2).collect()
    }
    assert got[1] == (10, 4, "x y z w")
    assert got[2] == (9, 3, "p q r")
    assert got[3] == (5, 5, "u v w x y")
    assert got[4] == (2, 2, "short text")

    # a doc that is ENTIRELY duplicated spans comes back empty
    df2 = spark.createDataFrame(
        [(1, shared), (2, shared)], ["doc_id", "text"]
    )
    got2 = {
        r["doc_id"]: (r["kept_tokens"], r["text_clean"])
        for r in dedup_spans_remove(df2, n=5, min_df=2).collect()
    }
    assert got2 == {1: (0, ""), 2: (0, "")}


def test_pack_sequences(spark):
    """pack_sequences: per-shard concat-and-split layout — offsets are
    the running token total mod budget, seq_ids are non-decreasing in
    layout order, and the whole corpus is assigned."""
    from data_table_spark.pipeline.curation import pack_sequences

    docs = [(i, " ".join(f"w{i}_{j}" for j in range(7))) for i in range(40)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = pack_sequences(df, budget=10, n_shards=3).collect()
    assert len(rows) == 40
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        # reconstruct layout order from (seq_id, seq_offset)
        rs.sort(key=lambda r: (r["seq_id"], r["seq_offset"]))
        total = 0
        for r in rs:
            assert r["seq_id"] == total // 10
            assert r["seq_offset"] == total % 10
            assert r["n_tokens"] == 7
            total += r["n_tokens"]

    with pytest.raises(ValueError):
        pack_sequences(df, budget=0)


def test_dup_span_profile_removal_consistency(spark):
    """Cross-operator invariant: for the same (n, min_df) the profile's
    dup_tokens and the removal's kept_tokens partition every document's
    token count."""
    import random

    from data_table_spark.pipeline import dedup_spans_remove, dup_span_profile

    rng = random.Random(7)
    vocab = [f"t{k}" for k in range(12)]  # tiny vocab -> dense collisions
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    prof = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
        for r in dup_span_profile(df, n=4, min_df=2).collect()
    }
    rem = {
        r["doc_id"]: (r["n_tokens"], r["kept_tokens"])
        for r in dedup_spans_remove(df, n=4, min_df=2).collect()
    }
    assert set(prof) == set(rem) == set(range(60))
    for i in range(60):
        nt, dup = prof[i]
        nt2, kept = rem[i]
        assert nt == nt2
        assert dup + kept == nt
    # the dense vocab must actually exercise nonzero coverage
    assert any(dup > 0 for _, dup in prof.values())


def test_stream_span_screen_coverage(spark):
    """stream_span_screen: row-local interval-union fold matches
    hand-computed coverage — overlapping matched spans don't double
    count, unmatched docs are absent, short docs produce no grams."""
    import tempfile

    from data_table_spark.core import TABLE_SCHEMAS
    from data_table_spark.streaming import (
        run_available_now,
        stream_span_screen,
    )

    ref_text = "a b c d e f"  # 4-grams: 'a b c d','b c d e','c d e f'
    rows = [
        # starts {0,1,2} -> union [0,6) = 6 of 10 tokens
        (1, f"{ref_text} x y z w", "en", "s", 10),
        # starts {2} only ('a b c d' at offset 2) -> 4 of 8
        (2, "q r a b c d p q2", "en", "s", 8),
        (3, "u v w x y", "en", "s", 5),       # no match -> absent
        (4, "a b c", "en", "s", 3),           # < n tokens -> absent
    ]
    docs = spark.createDataFrame(rows, TABLE_SCHEMAS["documents"])
    ref = spark.createDataFrame(
        [("a b c d",), ("b c d e",), ("c d e f",)], ["g"]
    )
    with tempfile.TemporaryDirectory() as d:
        docs.coalesce(1).write.mode("overwrite").parquet(f"{d}/docs")
        stream = spark.readStream.schema(TABLE_SCHEMAS["documents"]).parquet(f"{d}/docs")
        out = run_available_now(stream_span_screen(stream, ref, n=4)).collect()
    got = {
        r.doc_id: (r.n_tokens, r.dup_tokens, r.dup_frac) for r in out
    }
    assert got == {1: (10, 6, 0.6), 2: (8, 4, 0.5)}


def test_dedup_spans_remove_keep_first(spark):
    """keep_first=True: the gram's canonical holder (min doc_id) keeps
    the span; only the other documents lose it."""
    from data_table_spark.pipeline import dedup_spans_remove

    shared = "a b c d e f"
    df = spark.createDataFrame(
        [(5, f"x {shared}"), (9, f"{shared} y"), (2, "u v w x y z")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["kept_tokens"], r["text_clean"])
        for r in dedup_spans_remove(
            df, n=5, min_df=2, keep_first=True
        ).collect()
    }
    # doc 5 is the min doc_id holding the shared grams -> untouched
    assert got[5] == (7, f"x {shared}")
    assert got[9] == (1, "y")
    assert got[2] == (6, "u v w x y z")

    with pytest.raises(ValueError):
        dedup_spans_remove(df, n=5, min_df=3, keep_first=True)


def test_nafill_dispatcher_and_aliases(spark):
    """nafill(type=) dispatches to const/locf/nocb; setnafill and
    frolladapt are the reference NAMESPACE spellings."""
    from data_table_spark.operators.window import (
        frolladapt,
        frolladaptive,
        nafill,
        nafill_locf,
        setnafill,
    )

    assert setnafill is nafill
    assert frolladapt is frolladaptive

    df = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, None), (4, 7.0)], ["i", "v"]
    )
    dt = DT(df, order_by=["i"])
    const = {r["i"]: r["v"] for r in nafill(dt, "v", "const", fill=0.0).df.collect()}
    assert const == {1: 0.0, 2: 5.0, 3: 0.0, 4: 7.0}
    locf = {r["i"]: r["v"] for r in nafill(dt, "v", "locf").df.collect()}
    assert locf == {1: None, 2: 5.0, 3: 5.0, 4: 7.0}
    nocb = {r["i"]: r["v"] for r in nafill(dt, "v", "nocb").df.collect()}
    assert nocb == {1: 5.0, 2: 5.0, 3: 7.0, 4: 7.0}
    assert locf == {
        r["i"]: r["v"] for r in nafill_locf(dt, "v").df.collect()
    }
    with pytest.raises(ValueError):
        nafill(dt, "v", "bogus")


def test_format_col_hooks(spark):
    """format_col / format_list_item print hooks (reference NAMESPACE
    exports): list columns render per item with the 6-item cap and
    [NULL] markers; a registered per-dtype method overrides rendering
    and can be removed."""
    from data_table_spark.core import (
        format_dt,
        format_list_item,
        register_format_col,
    )

    assert format_list_item(None) == "[NULL]"
    assert format_list_item([1, 2, 3]) == "1,2,3"
    assert format_list_item(list(range(8))) == "0,1,2,3,4,5,...[8]"
    assert format_list_item([None, "x"]) == "[NULL],x"

    df = spark.createDataFrame(
        [(1, [1, 2, 3], 2.5), (2, None, 4.0)], ["id", "arr", "v"]
    )
    out = format_dt(DT(df, order_by=["id"]))
    assert "1,2,3" in out and "[NULL]" in out

    register_format_col("double", lambda v: "NA!" if v is None else f"{v:.1f}x")
    try:
        out2 = format_dt(DT(df, order_by=["id"]))
        assert "2.5x" in out2 and "4.0x" in out2
    finally:
        register_format_col("double", None)
    assert "2.5x" not in format_dt(DT(df, order_by=["id"]))


def test_as_data_table_constructors(spark):
    """as_data_table / setDT: Spark frame wrap, pandas frame, dict of
    columns, and row tuples with names."""
    import pandas as pd

    from data_table_spark.core import as_data_table, setDT

    assert setDT is as_data_table

    df = spark.createDataFrame([(1, "a")], ["i", "s"])
    dt = as_data_table(df, key=["i"])
    assert dt.df is df and dt.key == ["i"]
    # DT input re-wraps, keeping metadata unless overridden
    assert as_data_table(dt).key == ["i"]

    pdt = as_data_table(pd.DataFrame({"i": [1, 2], "s": ["x", "y"]}), spark=spark)
    assert sorted((r["i"], r["s"]) for r in pdt.df.collect()) == [(1, "x"), (2, "y")]

    mdt = as_data_table({"i": [3, 4], "v": [0.5, 1.5]}, spark=spark)
    assert sorted((r["i"], r["v"]) for r in mdt.df.collect()) == [(3, 0.5), (4, 1.5)]

    rdt = as_data_table([(5, "q")], spark=spark, columns=["i", "s"])
    assert [(r["i"], r["s"]) for r in rdt.df.collect()] == [(5, "q")]

    with pytest.raises(ValueError):
        as_data_table(pd.DataFrame({"i": [1]}))


def test_dup_span_profile_max_df(spark):
    """max_df over-common cap: a gram in more than max_df distinct docs
    stops counting as a dedupable span (boilerplate exclusion)."""
    from data_table_spark.pipeline import dup_span_profile

    shared = "a b c d e"  # one 5-gram, present in 3 docs
    df = spark.createDataFrame(
        [(1, shared), (2, shared), (3, shared), (4, "u v w x y")],
        ["doc_id", "text"],
    )
    uncapped = {
        r["doc_id"]: r["dup_tokens"]
        for r in dup_span_profile(df, n=5, min_df=2).collect()
    }
    assert uncapped == {1: 5, 2: 5, 3: 5, 4: 0}
    capped = {
        r["doc_id"]: r["dup_tokens"]
        for r in dup_span_profile(df, n=5, min_df=2, max_df=2).collect()
    }
    assert capped == {1: 0, 2: 0, 3: 0, 4: 0}


def test_token_mixture_sample(spark):
    """token_mixture_sample: full budget keeps every targeted doc with
    its token count; untargeted sources are dropped; rates derive from
    TOKEN totals (a source over its token share gets thr < 2^24)."""
    from data_table_spark.pipeline.curation import token_mixture_sample

    rows = (
        [(i, "w " * 20, "long") for i in range(50)]
        + [(100 + i, "w", "short") for i in range(50)]
        + [(900, "x y z", "other")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])

    # 100% budget, one target -> rate caps at 1: all 50 docs kept whole
    out = token_mixture_sample(
        df, {"long": 1}, budget_pct=100, group_col="source"
    ).collect()
    kept = {r["doc_id"]: r["n_tokens"] for r in out}
    assert set(kept) == set(range(50)) and all(v == 20 for v in kept.values())

    # equal shares over token-skewed sources: the long source holds
    # ~95% of tokens but is entitled to 50% of a 50% budget -> its keep
    # rate must be well under 1, while the short source (5% of tokens)
    # caps at 1 and keeps everything
    out2 = token_mixture_sample(
        df, {"long": 1, "short": 1}, budget_pct=50, group_col="source"
    ).collect()
    by_src = {}
    for r in out2:
        by_src.setdefault(r["source"], 0)
        by_src[r["source"]] += 1
    assert by_src.get("short", 0) == 50       # rate capped at 1
    assert 0 < by_src.get("long", 0) < 50     # thresholded
    assert not any(r["source"] == "other" for r in out2)

    with pytest.raises(ValueError):
        token_mixture_sample(df, {}, group_col="source")


def test_all_equal(spark):
    """all.equal.data.table contract: True or a difference STRING;
    structure checks first, key/order under check_attributes, multiset
    compare unordered, tolerance pairing on duplicate-free doubles."""
    from data_table_spark.operators.setops import all_equal

    a = DT(spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0)], ["i", "s", "v"]
    ))
    b = DT(spark.createDataFrame(
        [(2, "y", 2.0), (1, "x", 1.0)], ["i", "s", "v"]
    ))
    assert all_equal(a, b, ignore_row_order=True) is True
    # same frame vs itself (shared lineage) through the tolerance path
    assert all_equal(a, a, ignore_row_order=True) is True

    # within / beyond tolerance
    c = DT(spark.createDataFrame(
        [(1, "x", 1.0 + 1e-12), (2, "y", 2.0)], ["i", "s", "v"]
    ))
    assert all_equal(a, c, ignore_row_order=True) is True
    d = DT(spark.createDataFrame(
        [(1, "x", 1.5), (2, "y", 2.0)], ["i", "s", "v"]
    ))
    r = all_equal(a, d, ignore_row_order=True)
    assert isinstance(r, str) and "tolerance" in r

    # structure differences come back as messages
    e = DT(spark.createDataFrame([(1, "x")], ["i", "s"]))
    r2 = all_equal(a, e)
    assert "Different number of rows" in r2 and "columns" in r2
    col_swap = DT(a.df.select("s", "i", "v"))
    assert "column order" in all_equal(a, col_swap)
    assert all_equal(a, col_swap, ignore_col_order=True,
                     ignore_row_order=True) is True

    # key mismatch under check_attributes; ignored without
    k = DT(a.df, key=["i"])
    assert "different keys" in all_equal(a, k, ignore_row_order=True)

    # ordered comparison needs declared order on both sides
    assert "declare" in all_equal(a, b)
    ao = DT(a.df, order_by=["i"])
    bo = DT(b.df, order_by=["i"])
    assert all_equal(ao, bo) is True

    # both sides duplicated + doubles: tolerance forced to 0 (exact)
    dup = DT(spark.createDataFrame(
        [(1, "x", 1.0), (1, "x", 1.0)], ["i", "s", "v"]
    ))
    dup2 = DT(spark.createDataFrame(
        [(1, "x", 1.0), (1, "x", 1.0)], ["i", "s", "v"]
    ))
    assert all_equal(dup, dup2, ignore_row_order=True) is True
    one_dup = all_equal(dup, a, ignore_row_order=True)
    assert isinstance(one_dup, str)


def test_all_equal_null_doubles_and_pairing(spark):
    """Round-9 advice fixes: (a) NULL doubles compare equal under
    tolerance (abs(NULL-NULL)<=tol is NULL, not True — needs the
    eqNullSafe guard) in both the order-paired and tolerance-pairing
    paths; (b) the tolerance path verifies a one-to-one PAIRING, not
    bipartite coverage — {0.0, 0.1, 1.0} vs {0.05, 1.0, 1.05} at
    tol=0.07 has two-way coverage but no valid matching; (c)
    check_attributes=False with different column names compares
    positionally instead of crashing."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from data_table_spark.operators.setops import all_equal

    schema = StructType([
        StructField("i", LongType()), StructField("s", StringType()),
        StructField("v", DoubleType()),
    ])
    # (a) identical frames containing NULL doubles
    rows = [(1, "x", 1.0), (2, "y", None), (3, "z", 3.0)]
    a = DT(spark.createDataFrame(rows, schema))
    b = DT(spark.createDataFrame(list(reversed(rows)), schema))
    assert all_equal(a, b, ignore_row_order=True) is True
    ao = DT(a.df, order_by=["i"])
    bo = DT(b.df, order_by=["i"])
    assert all_equal(ao, bo) is True
    # NULL vs non-NULL double must still differ
    c = DT(spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0)], schema
    ))
    assert isinstance(all_equal(a, c, ignore_row_order=True), str)

    # (b) bipartite coverage without a valid matching must NOT be True
    vschema = StructType([StructField("v", DoubleType())])
    t = DT(spark.createDataFrame([(0.0,), (0.1,), (1.0,)], vschema))
    u = DT(spark.createDataFrame([(0.05,), (1.0,), (1.05,)], vschema))
    r = all_equal(t, u, ignore_row_order=True, tolerance=0.07)
    assert isinstance(r, str) and "pairing" in r
    # genuinely pairable sets still pass
    u2 = DT(spark.createDataFrame([(0.05,), (0.1,), (1.05,)], vschema))
    assert all_equal(t, u2, ignore_row_order=True, tolerance=0.07) is True

    # (c) positional compare when names differ and attributes ignored
    renamed = DT(a.df.toDF("j", "t", "w"))
    assert all_equal(
        a, renamed, check_attributes=False, ignore_row_order=True
    ) is True
    assert "column names" in all_equal(a, renamed, ignore_row_order=True)


def test_kmeans_deterministic_and_margin(spark, tables):
    """kmeans_assign: (a) assignment is a true argmin vs a per-row
    recheck; (b) the best-vs-second-best distance margin on the
    synthetic embeddings is orders above double drift — the property
    the cross-engine value-hash oracle rests on; (c) the packed
    broadcast form is partition-invariant (repartitioned input gives
    the same assignment)."""
    import math

    from data_table_spark.pipeline.similarity import kmeans_assign

    emb = tables["embeddings"].df
    asg = kmeans_assign(emb, k=8, n_iter=2)
    rows = {r["vec_id"]: (r["cluster_id"], r["v"]) for r in asg.collect()}
    assert len(rows) == emb.count()

    # recompute the final centroids from the returned assignment the
    # slow way and verify each vector's argmin (with id tiebreak)
    by_c = {}
    for cid, v in rows.values():
        by_c.setdefault(cid, []).append(v)
    # decimal-exact mean: sum of 6-dp-quantized components / count
    cents = {}
    for cid, vs in by_c.items():
        n = len(vs)
        cents[cid] = [
            sum(round(v[i], 6) for v in vs) / n for i in range(64)
        ]
    min_margin = math.inf
    for vid, (cid, v) in rows.items():
        ds = sorted(
            (sum((x - c[i]) ** 2 for i, x in enumerate(v)), k)
            for k, c in cents.items()
        )
        # margin between best and second-best distance
        min_margin = min(min_margin, ds[1][0] - ds[0][0])
    assert min_margin > 1e-9, min_margin

    rep = kmeans_assign(emb.repartition(7), k=8, n_iter=2)
    rows2 = {r["vec_id"]: r["cluster_id"] for r in rep.collect()}
    assert rows2 == {vid: cid for vid, (cid, _) in rows.items()}

    with pytest.raises(ValueError):
        kmeans_assign(emb, k=0)


def test_pq_encode_parallel_fit_determinism(spark, tables):
    """pq_encode (r14): the m subspace KMeans fits run concurrently
    from driver threads — seeds, data and partitioning are unchanged,
    so two invocations must produce identical centroids AND identical
    code tables (catches any thread-scheduling nondeterminism the
    parallel submission could introduce). Codes must also be valid
    indices into the returned centroid tables."""
    from data_table_spark.pipeline.similarity import pq_encode

    emb = tables["embeddings"].df
    enc1, cents1 = pq_encode(emb, m=8, k_centroids=16)
    enc2, cents2 = pq_encode(emb, m=8, k_centroids=16)
    assert cents1 == cents2
    rows1 = sorted(
        (r.asDict() for r in enc1.collect()), key=lambda d: d["vec_id"]
    )
    rows2 = sorted(
        (r.asDict() for r in enc2.collect()), key=lambda d: d["vec_id"]
    )
    assert rows1 == rows2
    assert len(cents1) == 8 and all(len(t) == 16 for t in cents1)
    for r in rows1:
        for s in range(8):
            assert 0 <= r[f"c{s}"] < 16


def test_semdedup_prune_keepfirst(spark):
    """semdedup_prune on a constructed corpus: near-identical vectors
    land in one cluster and only the lowest id survives; a same-cluster
    vector below the threshold is kept; pruning never crosses
    clusters."""
    from data_table_spark.pipeline.similarity import semdedup_prune

    def vec(base, eps=0.0):
        v = [0.0] * 64
        v[base] = 1.0
        v[(base + 1) % 64] = eps
        return v

    rows = [
        (0, vec(0), 0),          # cluster seed A
        (1, vec(32), 0),         # cluster seed B
        (2, vec(0, 0.01), 0),    # near-dup of 0 -> pruned
        (3, vec(0, 0.02), 0),    # near-dup of 0 -> pruned
        (4, vec(32, 0.01), 0),   # near-dup of 1 -> pruned
        (5, vec(16), 0),         # orthogonal: same corpus, no dup
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["vec_id"]: (r["cluster_id"], r["kept"])
        for r in semdedup_prune(df, k=2, n_iter=2, threshold=0.9).collect()
    }
    assert len(out) == 6
    kept = {vid for vid, (_, k) in out.items() if k}
    pruned = {vid for vid, (_, k) in out.items() if not k}
    assert {0, 1} <= kept and {2, 3, 4} <= pruned
    # 5 is orthogonal to everything: kept regardless of its cluster
    assert 5 in kept
    # pruned vectors share their keeper's cluster
    assert out[2][0] == out[0][0] and out[3][0] == out[0][0]
    assert out[4][0] == out[1][0]


def test_batch_by_length(spark):
    """batch_by_length: exact bit-length buckets (power-of-two
    boundaries), deterministic seeded layout, batches filled to
    batch_size within (bucket, shard), slots dense from 0."""
    from data_table_spark.pipeline.curation import batch_by_length

    docs = [
        (i, " ".join(f"w{j}" for j in range(n)))
        for i, n in enumerate(
            [1, 2, 3, 4, 7, 8, 9, 15, 16, 17, 31, 32, 33] + [10] * 40
        )
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = batch_by_length(df, batch_size=4, n_shards=2).collect()
    assert len(rows) == len(docs)
    exp_bucket = {1: 0, 2: 1, 3: 1, 4: 2, 7: 2, 8: 3, 9: 3, 15: 3,
                  16: 4, 17: 4, 31: 4, 32: 5, 33: 5, 10: 3}
    groups = {}
    for r in rows:
        assert r["bucket"] == exp_bucket[r["n_tokens"]]
        groups.setdefault((r["bucket"], r["shard"]), []).append(r)
    for (_, _), rs in groups.items():
        rs.sort(key=lambda r: (r["batch_id"], r["slot"]))
        # positions are dense: batch_id/slot enumerate 0..n-1 in fours
        for pos, r in enumerate(rs):
            assert r["batch_id"] == pos // 4 and r["slot"] == pos % 4

    again = batch_by_length(df.repartition(5), batch_size=4, n_shards=2)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))

    with pytest.raises(ValueError):
        batch_by_length(df, batch_size=0)


def test_kmeans_batched_equivalence(spark, tables):
    """The Arrow/BLAS assignment path (batched=True — the big-k scale
    route) returns the IDENTICAL assignment and semdedup verdicts as
    the fold form: distance drift between the two is summation-order
    ulps, far inside the measured argmin margins."""
    from data_table_spark.pipeline.similarity import (
        kmeans_assign,
        semdedup_prune,
    )

    emb = tables["embeddings"].df
    fold = {
        r["vec_id"]: r["cluster_id"]
        for r in kmeans_assign(emb, k=8, n_iter=2).collect()
    }
    blas = {
        r["vec_id"]: r["cluster_id"]
        for r in kmeans_assign(emb, k=8, n_iter=2, batched=True).collect()
    }
    assert fold == blas

    sd_fold = sorted(
        map(tuple, semdedup_prune(emb, k=8, n_iter=2).collect())
    )
    sd_blas = sorted(
        map(
            tuple,
            semdedup_prune(emb, k=8, n_iter=2, batched=True).collect(),
        )
    )
    assert sd_fold == sd_blas


def test_cc_star_chain(spark, tables):
    """Kiveris large-star/small-star CC (round-9 verdict item 4):
    (a) on a 400-node CHAIN (diameter 399 — the skew-diameter case)
    it converges in O(log^2 n) rounds, far under the diameter that
    min-label propagation needs one round per hop of; (b) labels
    equal the label-propagation fixpoint on the same graph; (c) the
    dedup_clusters strategy="star" output is identical to the default
    on the real documents pair graph, singletons included."""
    from data_table_spark.pipeline import cc_star_labels, dedup_clusters

    n = 400
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    labels, rounds = cc_star_labels(chain)
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {i: 0 for i in range(1, n)}  # min node 0 labels all
    # diameter is 399; propagation needs ~399 rounds. log2(400)~8.6;
    # the alternation should land well under 20.
    assert rounds <= 20, rounds

    docs = tables["documents"].df
    base = sorted(
        map(
            tuple,
            dedup_clusters(docs, threshold=0.8, strategy="label").collect(),
        )
    )
    star = sorted(
        map(
            tuple,
            dedup_clusters(docs, threshold=0.8, strategy="star").collect(),
        )
    )
    assert star == base

    with pytest.raises(ValueError):
        dedup_clusters(docs, strategy="bogus")


def test_semdedup_capped(spark, tables):
    """max_cluster_n= hot-cluster mitigation (round-9 verdict item 2):
    (a) a NON-binding cap returns the exact unsplit output; (b) on a
    constructed corpus of near-identical duplicate families — the
    content that actually makes a cluster hot — a binding cap keeps
    recall ~1 (families share hyperplane signs; chunk chaining catches
    the rest); (c) the worst case, one giant mutually-identical family
    that no similarity split can separate, still drops everything but
    the min id via the chunk-representative chain; (d) the dropped set
    is always a SUBSET of the exact path's; (e) partition-invariant."""
    import numpy as np

    from data_table_spark.pipeline.similarity import semdedup_prune

    emb = tables["embeddings"].df
    exact = sorted(map(tuple, semdedup_prune(emb, k=8, n_iter=2).collect()))
    nonbind = sorted(
        map(
            tuple,
            semdedup_prune(emb, k=8, n_iter=2, max_cluster_n=10**9).collect(),
        )
    )
    assert exact == nonbind

    # (b) 40 near-identical families x 25 copies, tiny perturbation
    rng = np.random.RandomState(7)
    dirs = rng.normal(size=(40, 64))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    rows = []
    vid = 0
    for f in range(40):
        for _ in range(25):
            v = dirs[f] + rng.normal(scale=1e-3, size=64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    fam = spark.createDataFrame(rows, ["vec_id", "embedding"])
    base = semdedup_prune(fam, k=4, n_iter=2, threshold=0.9)
    capped = semdedup_prune(
        fam, k=4, n_iter=2, threshold=0.9, max_cluster_n=50
    )
    bd = {r["vec_id"] for r in base.collect() if not r["kept"]}
    sd = {r["vec_id"] for r in capped.collect() if not r["kept"]}
    # nearly every non-min family member drops in the exact path (a
    # member can straddle a k-means boundary and lose its in-cluster
    # partner — that is exact-path behavior, not the cap's)
    assert len(bd) >= 0.95 * (40 * 24)
    assert sd <= bd
    assert len(sd & bd) >= 0.95 * len(bd)

    # (e) partition invariance of the capped path
    sd2 = {
        r["vec_id"]
        for r in semdedup_prune(
            fam.repartition(7), k=4, n_iter=2, threshold=0.9,
            max_cluster_n=50,
        ).collect()
        if not r["kept"]
    }
    assert sd2 == sd

    # (c) one giant identical family: signs cannot split it; chunking
    # + chain must still drop all but the global min
    giant = spark.createDataFrame(
        [(i, [1.0] * 64) for i in range(300)], ["vec_id", "embedding"]
    )
    out = semdedup_prune(
        giant, k=1, n_iter=1, threshold=0.9, max_cluster_n=32
    ).collect()
    dropped = {r["vec_id"] for r in out if not r["kept"]}
    assert dropped == set(range(1, 300))

    with pytest.raises(ValueError):
        semdedup_prune(emb, max_cluster_n=0)


def test_dsir_select(spark):
    """dsir_select on a constructed corpus with disjoint vocabularies:
    documents sharing the target's vocabulary must outscore documents
    that don't; weights are exact integers; keep_top flags exactly
    that many docs with the (weight desc, id) tiebreak."""
    from data_table_spark.pipeline.curation import dsir_select

    tgt_like = [(i, "alpha beta gamma delta " * 3) for i in range(4)]
    raw_only = [(i, "omega psi chi phi " * 3) for i in range(4, 10)]
    docs = spark.createDataFrame(tgt_like + raw_only, ["doc_id", "text"])
    target = docs.filter(F.col("doc_id") < 4)
    out = dsir_select(docs, target, n_buckets=1000, keep_top=4)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 10
    tgt_scores = [rows[i]["dsir_micro"] for i in range(4)]
    raw_scores = [rows[i]["dsir_micro"] for i in range(4, 10)]
    assert min(tgt_scores) > max(raw_scores)
    kept = {i for i, r in rows.items() if r["kept"]}
    assert kept == {0, 1, 2, 3}
    assert all(isinstance(r["dsir_micro"], int) for r in rows.values())

    with pytest.raises(ValueError):
        dsir_select(docs, target, n_buckets=0)


def test_decontaminate_bloom_matches_exact(spark, tables):
    """decontaminate_bloom == decontaminate bit-for-bit (the Bloom
    prescreen admits only false positives; exact verify removes them),
    across bitmap sizes including an undersized filter that forces a
    high false-positive rate through the verify stage."""
    from data_table_spark.pipeline.curation import (
        decontaminate,
        decontaminate_bloom,
    )

    docs = tables["documents"].df
    corpus = docs.filter(F.col("doc_id") % 53 != 0)
    benchmark = docs.filter(F.col("doc_id") % 53 == 0)
    exact = sorted(map(tuple, decontaminate(corpus, benchmark, n=4).collect()))
    for m_bits in (1 << 20, 256):  # 256 bits ~ saturated filter
        bloom = sorted(
            map(
                tuple,
                decontaminate_bloom(
                    corpus, benchmark, n=4, m_bits=m_bits
                ).collect(),
            )
        )
        assert bloom == exact, m_bits

    with pytest.raises(ValueError):
        decontaminate_bloom(corpus, benchmark, m_bits=100)
    with pytest.raises(ValueError):
        decontaminate_bloom(corpus, benchmark, n_hashes=0)


def test_heavy_hitters_cm(spark, tables):
    """heavy_hitters_cm == the exact HAVING query, including under a
    saturated w=4 sketch (false positives flood the prescreen; the
    verify removes every one)."""
    from data_table_spark.pipeline.text import heavy_hitters_cm

    docs = tables["documents"].df
    ex = (
        docs.select(F.explode(F.split(F.trim("text"), " +")).alias("t"))
        .groupBy("t")
        .count()
    )
    n_tot = ex.agg(F.sum("count")).collect()[0][0]
    thr = (n_tot * 5 + 999) // 1000
    exact = sorted(
        (r["t"], r["count"])
        for r in ex.collect()
        if r["count"] >= thr
    )
    for d, w in ((3, 1024), (3, 4), (1, 1024)):
        got = sorted(
            map(
                tuple,
                heavy_hitters_cm(docs, phi_permille=5, d=d, w=w).collect(),
            )
        )
        assert got == exact, (d, w)

    with pytest.raises(ValueError):
        heavy_hitters_cm(docs, phi_permille=0)
    with pytest.raises(ValueError):
        heavy_hitters_cm(docs, w=0)


def test_quality_quantile_and_sample_n(spark, tables):
    """quality_quantile_filter keeps exactly ceil(n*pct/100) per
    group; sample_n_per_group returns min(n, group size) rows with
    dense positions, stable under repartitioning."""
    from data_table_spark.pipeline.curation import (
        quality_quantile_filter,
        sample_n_per_group,
    )

    docs = tables["documents"].df
    out = quality_quantile_filter(docs, keep_pct=50).collect()
    sizes, kept = {}, {}
    for r in out:
        sizes[r["source"]] = sizes.get(r["source"], 0) + 1
        kept[r["source"]] = kept.get(r["source"], 0) + int(r["kept"])
    assert sizes and all(
        kept[s] == (sz * 50 + 99) // 100 for s, sz in sizes.items()
    )

    smp = sample_n_per_group(docs, n=5).collect()
    by_g = {}
    for r in smp:
        by_g.setdefault(r["source"], []).append(r["pos"])
    for g, ps in by_g.items():
        assert sorted(ps) == list(range(1, min(5, sizes[g]) + 1))
    again = sorted(
        map(tuple, sample_n_per_group(docs.repartition(7), n=5).collect())
    )
    assert again == sorted(map(tuple, smp))

    with pytest.raises(ValueError):
        quality_quantile_filter(docs, keep_pct=0)
    with pytest.raises(ValueError):
        sample_n_per_group(docs, n=0)


def test_gopher_quality_boundaries(spark):
    """Each Gopher rule at its exact boundary (cross-multiplied int
    comparisons: boundary values must not flip on float drift)."""
    from data_table_spark.pipeline import gopher_quality_filter

    docs = spark.createDataFrame(
        [
            # 0: 4 words, all len 3, has 'the' -> word_count fails @min 5
            (0, "the cat ran far"),
            # 1: 5 words, mean len exactly 3 (15 chars/5) -> mean ok (>=)
            (1, "the cat ran far yes"),
            # 2: mean len exactly 10: 5 words x 10 chars
            (2, "the1234567 abcdefghij abcdefghij abcdefghij abcdefghij"),
            # 3: mean len > 10 -> fails
            (3, "the12345678 abcdefghijk abcdefghijk abcdefghijk abcdefghijk"),
            # 4: symbol ratio exactly 0.1: 1 '#' in 10 words -> strict < fails
            (4, "the a b c d e f g h #"),
            # 5: alpha words exactly 80%: 4 of 5 -> >= passes
            (5, "the cat ran 123 far"),
            # 6: alpha words 60% -> fails
            (6, "the cat 12 34"),
            # 7: no stop words -> fails
            (7, "cat ran far yes go"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in gopher_quality_filter(
            docs, min_words=5, min_stop_words=1
        ).collect()
    }
    assert not out[0]["flag_word_count"] and out[1]["flag_word_count"]
    assert out[1]["flag_mean_word_len"]      # mean exactly 3.0
    assert out[2]["flag_mean_word_len"]      # mean exactly 10.0
    assert not out[3]["flag_mean_word_len"]  # mean > 10
    assert not out[4]["flag_symbol_ratio"]   # exactly 0.1, strict <
    assert out[5]["flag_alpha_words"]        # exactly 80%, >=
    assert not out[6]["flag_alpha_words"]
    assert not out[7]["flag_stop_words"] and out[1]["flag_stop_words"]
    assert out[1]["keep"] and not out[0]["keep"]


def test_line_dedup_boilerplate(spark):
    """Boilerplate lines (df >= max_df) drop everywhere; order-correct
    reassembly; an all-boilerplate doc comes back as ''."""
    from data_table_spark.pipeline import line_dedup

    rows = []
    for d in range(4):
        rows.append((d, 0, "cookie banner"))          # df=4 -> boiler
        rows.append((d, 1, f"unique body {d}"))
        rows.append((d, 2, "all rights reserved"))    # df=4 -> boiler
    rows.append((9, 0, "cookie banner"))              # all-boiler doc
    lines = spark.createDataFrame(rows, ["doc_id", "line_no", "line"])
    out = {r["doc_id"]: r for r in line_dedup(lines, max_df=3).collect()}
    assert len(out) == 5
    for d in range(4):
        assert out[d]["text_clean"] == f"unique body {d}"
        assert (out[d]["kept_lines"], out[d]["dropped_lines"]) == (1, 2)
    assert out[9]["text_clean"] == "" and out[9]["kept_lines"] == 0

    # below-threshold lines survive, order preserved
    out2 = {r["doc_id"]: r for r in line_dedup(lines, max_df=6).collect()}
    assert out2[0]["text_clean"] == (
        "cookie banner\nunique body 0\nall rights reserved"
    )
    assert out2[0]["dropped_lines"] == 0


def test_lineify_exact_runs(spark):
    """lineify chunks the token stream into exact ordered runs."""
    from data_table_spark.pipeline import lineify

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y")], ["doc_id", "text"]
    )
    got = sorted(
        map(tuple, lineify(docs, tokens_per_line=2).collect())
    )
    assert got == [
        (1, 0, "a b"), (1, 1, "c d"), (1, 2, "e"), (2, 0, "x y")
    ]


def test_minhash_broadcast_modes_identical(spark, tables):
    """minhash_lsh_pairs onepass verifier: the membership-frame join
    strategy (broadcast='auto' AQE-decided / 'force' hinted / 'never'
    shuffle merge) cannot change the verified pair set — round-9
    verdict "What's wrong" #1, the 100 TB size-cliff fix. Also pins
    that 'never' really plans a non-broadcast join."""
    from data_table_spark.pipeline import minhash_lsh_pairs

    docs = tables["documents"].df

    def pairs(mode):
        out = minhash_lsh_pairs(docs, threshold=0.8, broadcast=mode)
        return sorted(
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in out.collect()
        )

    auto, force, never = pairs("auto"), pairs("force"), pairs("never")
    assert auto == force == never
    assert len(auto) > 0  # the sf0.001 corpus has true near-dups

    # 'force' plans a broadcast for the membership join; 'never' must
    # not carry any broadcast hint for it (band-join subtree aside,
    # the logical plans differ exactly in that hint)
    lp_force = minhash_lsh_pairs(
        docs, threshold=0.8, broadcast="force"
    )._jdf.queryExecution().optimizedPlan().toString()
    lp_never = minhash_lsh_pairs(
        docs, threshold=0.8, broadcast="never"
    )._jdf.queryExecution().optimizedPlan().toString()
    assert lp_force.count("broadcast") > lp_never.count("broadcast")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        minhash_lsh_pairs(docs, broadcast="bogus").collect()


def test_cc_reliable_checkpoint_identical(spark, tables):
    """checkpoint_mode="reliable" (round-9 verdict "What's wrong" #2):
    both CC strategies must produce IDENTICAL labels when the
    per-round lineage cut goes through a distributed checkpoint dir
    instead of executor-local blocks — the fault-tolerant posture for
    a multi-hour 100 TB CC where losing an executor mid-iteration
    must not restart from round 1. Also pins the no-dir error."""
    import shutil

    from data_table_spark.pipeline import dedup_clusters

    docs = tables["documents"].df
    ckdir = "/root/repo/.tmp/cc_ckpt_test"
    try:
        base = sorted(map(tuple, dedup_clusters(
            docs, threshold=0.8, strategy="star").collect()))
        rel_star = sorted(map(tuple, dedup_clusters(
            docs, threshold=0.8, strategy="star",
            checkpoint_mode="reliable", checkpoint_dir=ckdir,
        ).collect()))
        rel_label = sorted(map(tuple, dedup_clusters(
            docs, threshold=0.8, strategy="label",
            checkpoint_mode="reliable", checkpoint_dir=ckdir,
        ).collect()))
        assert rel_star == base
        assert rel_label == base
    finally:
        shutil.rmtree(ckdir, ignore_errors=True)

    with pytest.raises(ValueError):
        dedup_clusters(docs, checkpoint_mode="bogus")


def test_auto_n_chunks_heuristic(spark, tables):
    """n_chunks="auto" (round-9 verdict item 6): a cheap hottest-key
    probe decides split vs unsplit against the MEASURED 1M break-even
    (SCALE.md / tools/chunk_probe.py). Uniform small keys stay
    unsplit; a key past the break-even splits to ~target-row chunks
    capped at defaultParallelism; ints/None pass through untouched."""
    from pyspark.sql import functions as F

    from data_table_spark.core import DT
    from data_table_spark.operators.window import (
        _resolve_n_chunks,
        froll,
        shift,
    )

    li = tables["lineitem"].df
    # passthrough: explicit values never re-probe
    assert _resolve_n_chunks(li, ["l_returnflag"], None) is None
    assert _resolve_n_chunks(li, ["l_returnflag"], 7) == 7
    # sf0.001 lineitem keys are far below the real break-even
    assert _resolve_n_chunks(li, ["l_returnflag"], "auto") is None
    # lowered break-even: the hottest l_returnflag key (~3k rows at
    # sf0.001) now crosses, and the chunk count targets ~500-row chunks
    got = _resolve_n_chunks(
        li, ["l_returnflag"], "auto", break_even=1000, target=500
    )
    cap = spark.sparkContext.defaultParallelism
    assert isinstance(got, int) and 2 <= got <= cap
    # unpartitioned probe = total count
    assert _resolve_n_chunks(li, [], "auto", break_even=10**9) is None
    assert _resolve_n_chunks(li, [], "auto", break_even=100, target=100) >= 2

    # end-to-end: auto-split output is hash-identical to the unsplit
    # plan on a frame past the REAL break-even (one 2.5M-row global
    # ordering -> auto resolves to ceil(2.5M/250k) = 10 chunks)
    big = DT(
        spark.range(2_500_000).select(
            F.col("id").alias("t"),
            (F.col("id") % 97).cast("double").alias("v"),
        ),
        order_by=["t"],
    )

    def sig(d):
        return d.df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("t", "v", "v_rollmean_5"), F.lit(1000003))).alias("h"),
        ).collect()[0]

    # the probe must actually choose the SPLIT path here, or the
    # equality below is vacuous (2.5M rows / 250k target = 10 chunks,
    # capped at the box's parallelism — not hardcoded, ADVICE r10)
    assert _resolve_n_chunks(big.df, [], "auto") == min(10, cap)
    base = sig(froll(big, "mean", "v", 5))
    auto = sig(froll(big, "mean", "v", 5, n_chunks="auto"))
    assert (base["n"], base["h"]) == (auto["n"], auto["h"])

    with pytest.raises(ValueError):
        shift(big, "v", 1, type_="cyclic", n_chunks="auto")
    # mistyped string must fail loudly, not fall through to the unsplit
    # path or an opaque TypeError downstream (ADVICE r10)
    with pytest.raises(ValueError, match="auto"):
        _resolve_n_chunks(big.df, [], "Auto")


def test_auto_probe_memoized(spark):
    """Chained auto calls on the SAME frame+keys pay the probe Spark
    job once (round-10 verdict item 4): the hottest-key count is
    memoized against the immutable DataFrame object, so a rebind (new
    object) naturally invalidates. Output stays hash-identical."""
    from pyspark.sql import functions as F

    from data_table_spark.core import DT
    from data_table_spark.operators import window as W

    big = DT(
        spark.range(2_500_000).select(
            F.col("id").alias("t"),
            (F.col("id") % 97).cast("double").alias("v"),
        ),
        order_by=["t"],
    )
    before = W._PROBE_JOBS
    a = W._resolve_n_chunks(big.df, [], "auto")
    b = W._resolve_n_chunks(big.df, [], "auto")
    assert a == b and a is not None
    assert W._PROBE_JOBS == before + 1  # second call is a cache hit
    # different keys on the same frame = a different probe
    W._resolve_n_chunks(big.df, ["v"], "auto")
    assert W._PROBE_JOBS == before + 2
    # rebind (any transformation -> new DataFrame object) re-probes
    big2 = big.df.withColumn("v2", F.col("v") + 1)
    W._resolve_n_chunks(big2, [], "auto")
    assert W._PROBE_JOBS == before + 3

    # end-to-end: two chained auto ordered ops on a FRESH frame (so the
    # cache starts cold), one probe job, output identical to the
    # explicit-chunk twin
    big = DT(
        spark.range(2_500_000).select(
            F.col("id").alias("t"),
            (F.col("id") % 89).cast("double").alias("v"),
        ),
        order_by=["t"],
    )
    before = W._PROBE_JOBS
    r1 = W.froll(big, "mean", "v", 5, n_chunks="auto")
    # a DERIVED frame: froll carried the probe memo onto r1.df
    # (_carries_probe), so the chained call re-probes nothing
    r2 = W.froll(r1, "sum", "v", 5, n_chunks="auto")
    assert W._PROBE_JOBS == before + 1
    h1 = r1.df.agg(F.sum(F.pmod(F.xxhash64("t", "v_rollmean_5"), F.lit(1000003)))).collect()[0][0]
    h1e = W.froll(big, "mean", "v", 5, n_chunks=10).df.agg(
        F.sum(F.pmod(F.xxhash64("t", "v_rollmean_5"), F.lit(1000003)))
    ).collect()[0][0]
    assert h1 == h1e
    assert r2 is not None


def test_line_dedup_broadcast_modes_identical(spark):
    """line_dedup's boilerplate join strategy (broadcast='auto' AQE /
    'force' hinted / 'never' shuffle) cannot change the output — the
    r9 ADVICE size-cliff item: with max_df=2 the build side is every
    line in >=2 docs, which a dup-heavy crawl makes corpus-scale, so
    the default must not hard-pin a driver broadcast."""
    from data_table_spark.pipeline import line_dedup

    rows = []
    for d in range(6):
        rows.append((d, 0, "shared cookie banner"))
        rows.append((d, 1, f"unique body {d}"))
        if d % 2 == 0:
            rows.append((d, 2, "shared footer"))
    lines = spark.createDataFrame(rows, ["doc_id", "line_no", "line"])

    def run(mode):
        return sorted(map(tuple, line_dedup(lines, broadcast=mode).collect()))

    auto, force, never = run("auto"), run("force"), run("never")
    assert auto == force == never
    assert any(r[3] > 0 for r in auto)  # boilerplate actually dropped

    lp_force = line_dedup(
        lines, broadcast="force"
    )._jdf.queryExecution().optimizedPlan().toString()
    lp_never = line_dedup(
        lines, broadcast="never"
    )._jdf.queryExecution().optimizedPlan().toString()
    assert lp_force.count("broadcast") > lp_never.count("broadcast")

    with pytest.raises(ValueError):
        line_dedup(lines, broadcast="bogus")


def test_frollapply_chunk_stitch(spark, tables):
    """frollapply / frollapply_multi through the halo chunk-stitch:
    same n_chunks= contract as froll (the arbitrary-fn member of the
    ordered family was the one stitch gap left after round 9)."""
    from data_table_spark.operators.window import (
        frollapply,
        frollapply_multi,
    )

    ev = tables["events"]

    def sig(d, col):
        from pyspark.sql import functions as F

        return sorted(
            (r["event_id"], None if r[col] is None else round(r[col], 9))
            for r in d.df.select("event_id", col).collect()
        )

    fmax = lambda a: float(max(a))
    base = frollapply(ev, "value", 5, fmax, by=["user_id"])
    chk = frollapply(ev, "value", 5, fmax, by=["user_id"], n_chunks=4)
    assert sig(base, "value_roll5") == sig(chk, "value_roll5")

    corr = lambda pdf: pdf["value"].corr(pdf["ts_us"])
    base_m = frollapply_multi(
        ev, ["value", "ts_us"], 6, corr, by=["user_id"]
    )
    chk_m = frollapply_multi(
        ev, ["value", "ts_us"], 6, corr, by=["user_id"], n_chunks=3
    )
    assert sig(base_m, "roll_apply") == sig(chk_m, "roll_apply")


def test_frolladaptive_chunk_stitch(spark, tables):
    """frolladaptive(n_chunks=): the operator's three per-key running
    quantities (position, DECIMAL cumsum, non-null count) stitch
    through the associative chunk carry — output identical to the
    unsplit plan for sum/mean x na_rm True/False, NULLs and NaN
    included (DECIMAL sums make the regrouped fold exact, so this is
    equality, not tolerance)."""
    from pyspark.sql import functions as F

    from data_table_spark.core import DT
    from data_table_spark.operators.window import frolladaptive

    ev = tables["events"]
    # NULL/NaN-seeded copy with a per-row width column
    seeded = DT(
        ev.df.withColumn(
            "v",
            F.when(F.col("event_id") % 11 == 0, F.lit(None))
            .when(F.col("event_id") % 13 == 0, F.lit(float("nan")))
            .otherwise(F.col("value")),
        ).withColumn("nw", (F.col("event_id") % 7 + 1).cast("int")),
        order_by=ev.order_by,
    )

    def sig(d, col="out"):
        import math

        def norm(x):
            if x is None:
                return None
            if isinstance(x, float) and math.isnan(x):
                return "NaN"
            return round(x, 6)

        return sorted(
            (r["event_id"], norm(r[col]))
            for r in d.df.select("event_id", col).collect()
        )

    # sum/mean stitch the running triple; max/min ride the halo stitch
    # on the power-of-two sparse frames; median swaps only the position
    # window for the chunked-rank carry (its expansion join is already
    # shuffle-parallel)
    for fun in ("sum", "mean", "max", "min", "median"):
        for na_rm in (False, True):
            base = frolladaptive(
                seeded, "v", "nw", by=["user_id"], fun=fun, na_rm=na_rm,
                out_col="out",
            )
            chk = frolladaptive(
                seeded, "v", "nw", by=["user_id"], fun=fun, na_rm=na_rm,
                out_col="out", n_chunks=4,
            )
            assert sig(base) == sig(chk), (fun, na_rm)

    # desc first order key: the value-based chunk index reverses the
    # carry spine (r10 fix — the asc-pinned spine accumulated the
    # WRONG chunks' totals under desc)
    dord = ["-event_id"]
    for fun in ("sum", "median"):
        base = frolladaptive(
            seeded, "v", "nw", by=["user_id"], order=dord, fun=fun,
            out_col="out",
        )
        chk = frolladaptive(
            seeded, "v", "nw", by=["user_id"], order=dord, fun=fun,
            out_col="out", n_chunks=4,
        )
        assert sig(base) == sig(chk), ("desc", fun)


def test_rowid_chunked(spark, tables):
    """rowid(n_chunks=): the chunked-rank carry gives identical 1-based
    counters to the per-group row_number window."""
    from data_table_spark.operators.window import rowid

    ev = tables["events"]
    base = sorted(
        map(tuple, rowid(ev, ["user_id"], order=["event_id"]).df
            .select("event_id", "rowid").collect())
    )
    chk = sorted(
        map(tuple, rowid(ev, ["user_id"], order=["event_id"], n_chunks=4).df
            .select("event_id", "rowid").collect())
    )
    assert base == chk
    # desc order: the chunked-rank spine reverses (r10 fix)
    based = sorted(
        map(tuple, rowid(ev, ["user_id"], order=["-event_id"]).df
            .select("event_id", "rowid").collect())
    )
    chkd = sorted(
        map(tuple, rowid(ev, ["user_id"], order=["-event_id"], n_chunks=4).df
            .select("event_id", "rowid").collect())
    )
    assert based == chkd


def test_halo_stitch_nan_order_value(spark):
    """A NaN in the ORDER column must neither break the halo stitch's
    exactness NOR collapse the chunking: NaN is excluded from the
    per-key bounds (one NaN would make the chunk width NaN and send
    every row to the top chunk — exact but silently unsplit) and the
    NaN row itself lands in the top chunk, matching Spark's
    NaN-sorts-after-+Inf ordering."""
    from pyspark.sql import functions as F

    from data_table_spark.core import DT
    from data_table_spark.operators.window import froll

    rows = [(1, float(i), float(i % 7)) for i in range(100)]
    rows[50] = (1, float("nan"), 3.0)
    df = spark.createDataFrame(rows, ["g", "t", "v"])
    dt = DT(df, order_by=["t"])

    def sig(d):
        return sorted(
            (str(r["t"]), r["v_rollmean_5"])
            for r in d.df.collect()
        )

    assert sig(froll(dt, "mean", "v", 5, by=["g"])) == sig(
        froll(dt, "mean", "v", 5, by=["g"], n_chunks=4)
    )
    # desc first order: NaN sorts FIRST under .desc() -> chunk 0
    dtd = DT(df, order_by=["-t"])
    assert sig(froll(dtd, "mean", "v", 5, by=["g"])) == sig(
        froll(dtd, "mean", "v", 5, by=["g"], n_chunks=4)
    )
    # NULL order values: asc NULLS FIRST (chunk 0) / desc NULLS LAST
    # (top chunk) — same global-position routing as NaN
    rows_n = [(1, None if i in (3, 97) else float(i), float(i % 7)) for i in range(100)]
    dfn = spark.createDataFrame(rows_n, "g int, t double, v double")
    for ob in (["t"], ["-t"]):
        dtn = DT(dfn, order_by=ob)
        assert sig(froll(dtn, "mean", "v", 5, by=["g"])) == sig(
            froll(dtn, "mean", "v", 5, by=["g"], n_chunks=4)
        )
    # the chunking must actually SPREAD: >1 distinct chunk despite NaN
    from data_table_spark.operators.window import _ordered_chunk_stitch

    spread = _ordered_chunk_stitch(
        dt, lambda bs: {"x": F.count(F.lit(1)).over(bs.rowsBetween(-1, 0))},
        by=["g"], order=["t"], n_chunks=4, hw_lo=1, hw_hi=0,
    )
    # re-derive the chunk split the same way to observe it: the bounds
    # exclude NaN, so the 99 finite rows span all 4 chunks
    from data_table_spark.operators.window import _chunked_frame

    nchunks = (
        _chunked_frame(dt, ["g"], ["t"], 4)[0]
        .select("__chunk__").distinct().count()
    )
    assert nchunks == 4
    assert spread.df.count() == 100


def test_asof_chunked_nan_time(spark):
    """asof_join(n_chunks=) with a NaN time value: the bounds exclude
    NaN (otherwise the chunk width is NaN and the split collapses) and
    the NaN row routes to the top chunk — output identical to the
    unsplit plan for forward, backward, and nearest rolls."""
    from pyspark.sql import functions as F

    from data_table_spark.core import DT
    from data_table_spark.operators.asof import asof_join

    x_rows = [(1, float(t), float(t) * 10) for t in range(0, 100, 10)]
    x_rows.append((1, float("nan"), -1.0))
    i_rows = [(1, float(t) + 0.5) for t in range(0, 100, 5)]
    x = DT(spark.createDataFrame(x_rows, ["k", "tx", "xv"]))
    i = DT(spark.createDataFrame(i_rows, ["k", "ti"]))

    def sig(roll, nc):
        out = asof_join(
            x, i, on=["k"], time_x="tx", time_i="ti", roll=roll,
            n_chunks=nc,
        ).df
        return sorted(
            (str(r["ti"]), r["xv"]) for r in out.select("ti", "xv").collect()
        )

    for roll in (True, "nocb", "nearest"):
        assert sig(roll, None) == sig(roll, 4), roll

    # the split must actually spread despite the NaN (not one chunk)
    u = (
        x.df.select("k", F.col("tx").alias("__t__"))
        .unionByName(i.df.select("k", F.col("ti").alias("__t__")))
    )
    tcol = F.col("__t__").cast("double")
    tfin = F.when(~F.isnan(tcol), tcol)
    b = u.groupBy("k").agg(F.min(tfin).alias("lo"), F.max(tfin).alias("hi"))
    w = u.join(F.broadcast(b), "k").withColumn(
        "c",
        F.when(tcol.isNotNull() & F.isnan(tcol), F.lit(3)).otherwise(
            F.least(
                F.lit(3),
                F.greatest(
                    F.lit(0),
                    F.floor((tcol - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 4)),
                ),
            )
        ),
    )
    assert w.select("c").distinct().count() == 4


def test_declared_order_na_placement_survives_reapplication(spark):
    """Round-14 composition-harness regression: re-applying a DECLARED
    order (head/tail/positional/unique fromLast/...) must reproduce
    the establishing sort's missing-value placement — DT.order's
    na_last=True (NA block LAST, R/setkey.R:230) and setorder's
    default (NA first), plus the forder NaN/NA two-level key for
    doubles. The bug: _ocol re-sorted with Spark defaults (asc = NULLS
    FIRST), so order("s").head(1) returned the NULL row the order had
    placed last."""
    from data_table_spark.operators.grouping import unique

    dt = DT(spark.createDataFrame(
        [(0, None, 10), (1, "x", 11), (2, "a", 12), (3, None, 13)],
        "i int, s string, v int",
    ))
    # order() = na_last=True: NULLs last, in BOTH directions
    assert [r["s"] for r in dt.order("s").head(2).collect()] == ["a", "x"]
    assert [r["s"] for r in dt.order("s").tail(2).collect()] == [None, None]
    assert [r["s"] for r in dt.order("-s").head(3).collect()] == [
        "x", "a", None]
    # setorder default na_last=False: NULLs first
    assert [r["s"] for r in dt.setorder("s").head(2).collect()] == [
        None, None]
    # positional subset follows the same placement
    assert [r["i"] for r in dt.order("s")[1:2].collect()] == [2, 1]
    # the flag survives _namelist round-trips into unique(fromLast):
    # last row per constant group under NA-last order = a NULL-s row
    one = dt.order("s").let(g=F.lit(1))
    last = unique(one, by=["g"], fromLast=True)
    assert [r["s"] for r in last.collect()] == [None]
    # double columns keep the two-level NaN/NA key on re-application:
    # values < NaN < NA under na_last=True
    dd = DT(spark.createDataFrame(
        [(0, 1.5), (1, float("nan")), (2, None), (3, -2.0)],
        "i int, x double",
    ))
    assert [r["i"] for r in dd.order("x").head(4).collect()] == [3, 0, 1, 2]
    assert [r["i"] for r in dd.setorder("x").head(4).collect()] == [
        2, 1, 3, 0]
