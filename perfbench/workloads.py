"""The benchmark's workloads: which ops each one runs, at which scale.

An op is one call into the library that yields one result, timed in two
phases: ``build`` (constructing the DataFrame, or the fwrite/fread call)
and ``action`` (`bench.force_count`, or the write itself). Ops in one
``chain`` depend on each other and keep their relative order; every
other ordering within a pass comes from the workload seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

import bench
from data_table_spark.queries import QUERIES

SMOKE_SF = 0.001

# Left out on purpose (an op whose expected result is empty is refused,
# and every op must fit the per-run time budget):
EXCLUDED = {
    "web_curation_pipeline": "returns 0 rows at sf0.1 and sf1 (the DuckDB "
    "oracle also gives 0 at sf0.1, 367 at sf0.01): an empty result checks nothing",
    "dedup_clusters": "about 130 s per op at sf1, longer than a whole run",
    "ngram_jaccard_pairs": "about 100 s per op at sf1, longer than a whole run",
}


@dataclass
class Op:
    name: str
    build: Callable  # (spark, ctx) -> built object
    action: Callable  # (built) -> (rows, hash) or None for a write
    tables: tuple[str, ...] = ()  # input tables; filled by warm-up if empty
    chain: str = ""
    pair: str = ""  # the write op whose output this op reads back
    expect: dict = field(default_factory=dict)


class _Capture:
    """Stands in for a DataFrame so `bench.force_count` runs unchanged
    while the content hash ``h`` it computes (and returns without) is
    kept: the one `select(...).collect()` it makes is recorded."""

    def __init__(self, df) -> None:
        self._df = df
        self.row = None

    def __getattr__(self, name):
        return getattr(self._df, name)

    def select(self, *cols):
        selected, capture = self._df.select(*cols), self

        class _Collect:
            def collect(self):
                rows = selected.collect()
                capture.row = rows[0]
                return rows

        return _Collect()


def count_and_hash(sdf) -> tuple[int, int]:
    """(rows, order-independent content hash) via `bench.force_count`."""
    cap = _Capture(sdf)
    n = bench.force_count(cap)
    return n, cap.row["h"]


def _query_op(name: str) -> Op:
    def build(spark, ctx):
        df = QUERIES[name](spark, ctx["data"])
        return df.df if hasattr(df, "df") else df

    return Op(name, build, count_and_hash)


def _ingest_ops(table: str) -> list[Op]:
    from pyspark.sql import functions as F

    # looked up at call time, so layer spans installed later see the calls
    from data_table_spark import sources

    def csv_path(ctx):
        return os.path.join(ctx["out"], f"{table}_csv")

    def build_write(spark, ctx):
        return spark.read.parquet(os.path.join(ctx["data"], f"{table}.parquet")), csv_path(ctx)

    def write(built):
        df, path = built
        sources.fwrite(df, path)

    def build_read(spark, ctx):
        # cast back to the source schema so the content hash is comparable
        dtypes = ctx["source_dtypes"][table]
        df = sources.fread(spark, csv_path(ctx)).df
        return df.select([F.col(c).cast(t).alias(c) for c, t in dtypes])

    return [
        Op(f"fwrite_{table}", build_write, write, (table,), chain=table),
        Op(f"fread_{table}", build_read, count_and_hash, (table,), chain=table,
           pair=f"fwrite_{table}"),
    ]


@dataclass
class Workload:
    name: str
    sf: float  # scale of the generated input tables
    pass_s: float  # nominal seconds per pass on a 4-core host
    ops: Callable[[], list[Op]]
    why: str


WORKLOADS = {
    "headline": Workload(
        "headline", 0.01, 16.5,
        lambda: [_query_op(q) for q in bench.HEADLINE] + _ingest_ops("orders"),
        "the 20 bench.HEADLINE queries, one per operator family, plus fwrite "
        "and fread of orders: short ops where driver-side work is a large share",
    ),
    "curation": Workload(
        "curation", 0.05, 10.0,
        lambda: [_query_op("curation_pipeline"), _query_op("minhash_lsh_pairs")],
        "the end-to-end curation pipeline and MinHash near-dup pairs: "
        "shuffle-heavy multi-job clustering where task CPU dominates",
    ),
}
