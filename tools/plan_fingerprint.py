"""Plan fingerprints for every registry query: the optimized logical
plan with volatile tokens scrubbed (#ids, plan_id, appId paths, tmp
paths), md5-hashed — the post-rotation 0-plan-diff proof and the
rotation-time changed-set detector (NOTES r13/r14 protocol).

Usage:
    python tools/plan_fingerprint.py <out.json> [sf_dir]
    # then diff two runs:
    python - <<'PY'
    import json; h=json.load(open("a.json")); r=json.load(open("b.json"))
    print("NEW:", sorted(set(h)-set(r)))
    print("DIFF:", sorted(k for k in h if k in r and h[k]!=r[k]))
    PY

Known standing diff: setindex_bucketed always differs (warehouse path
embeds the application id).
"""

from __future__ import annotations

import hashlib
import json
import re
import sys

sys.path.insert(0, ".")


_LAMBDA_VAR = re.compile(r"lambda (\w+?)_(\d+)\b")


def normalize(plan: str) -> str:
    """Scrub the volatile tokens from a plan string."""
    norm = re.sub(r"#\d+", "#x", plan)
    # HOF lambda variable names carry a SESSION-GLOBAL counter
    # (`lambda x_71` in a fresh session vs `lambda x_91` after other
    # queries built lambdas) — the r15 "one-session run-order context"
    # spurious-diff mechanism. Renumber the counters by first occurrence
    # in this plan, so distinct variables stay distinct (a swap of which
    # nested variable is referenced still changes the fingerprint).
    ordinals: dict[str, int] = {}

    def _renumber(m: re.Match) -> str:
        n = ordinals.setdefault(m.group(0), len(ordinals))
        return f"lambda {m.group(1)}_{n}"

    norm = _LAMBDA_VAR.sub(_renumber, norm)
    norm = re.sub(r"plan_id=\d+", "plan_id=x", norm)
    norm = re.sub(r"application_\d+", "app", norm)
    norm = re.sub(r"appattempt[^ ,\)\]]*", "app", norm)
    norm = re.sub(r"/tmp/[^ ,\)\]]*", "/tmp/x", norm)
    norm = re.sub(r"spark-warehouse[^ ,\)\]]*", "wh", norm)
    return norm


def fingerprint(plan: str) -> str:
    return hashlib.md5(normalize(plan).encode()).hexdigest()


def main():
    out_path = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"

    import __spark_entry__ as e

    from data_table_spark import get_spark

    spark = get_spark("plan-fp")
    spark.sparkContext.setLogLevel("ERROR")
    fps = {}
    for name, fn in e.queries().items():
        try:
            df = fn(spark, sf)
            fps[name] = fingerprint(
                df._jdf.queryExecution().optimizedPlan().toString()
            )
        except Exception as ex:  # keep sweeping; record the failure
            fps[name] = f"ERR:{type(ex).__name__}:{ex}"[:200]
    json.dump(fps, open(out_path, "w"), indent=0, sort_keys=True)
    print(f"{len(fps)} fingerprints -> {out_path}")


if __name__ == "__main__":
    main()
