"""Benchmark for data_table_spark: named workloads, checked results,
end-to-end metrics, and a traced per-layer breakdown.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. One process, one closed-loop caller,
Spark at ``local[nproc]`` with driver memory sized to the host. Inputs
are generated deterministically (perfbench/datagen.py), laid out by
`bench.scan_parallel_copy`, and every op runs once untimed (warm-up,
part of set-up) before the timed passes over all ops, each in an order
drawn from ``--seed``. A run makes ``--seconds`` divided by the
workload's nominal pass time passes (at least one), so every run of a
workload measures the same work. An op's wall time and CPU time are the
least of its samples over the passes (best of k), and the end-to-end
timings are sums and quantiles of those. Every op's row count and
content hash are checked against perfbench/expected.json (recorded with
``--record`` and cross-checked against the DuckDB oracle's row counts);
read-back ops are checked against the source table. Persisted RDDs are
released between ops, untimed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` restarts the
session after the warm-up with the Spark event log on and layer spans
installed, makes one traced pass, then one untraced pass in a fresh
session, and prints the per-layer metrics plus the tracing overhead.
The last stdout line is the result object; the line before it is a full
report (environment, per-op samples, fail_ratio, reconciliation).

``--smoke`` alone runs every workload at sf0.001 with trace 0 and 1 and
checks that every declared metric is present with its unit and that no
op failed. ``--record`` writes expected results for one workload.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")
DATA_SEED = 20240101
RECON_TOL = 0.05

sys.path.insert(0, HERE)
import proctree  # noqa: E402

_PHASES = ("build", "action")


def host_env() -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    driver_mb = max(1024, min(2048, mem_kb // 1024 // 8))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "MemTotal_kb": str(mem_kb),
    }


def session_conf(work: str, traced: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": tmp,
        # a heap committed up front: the resident size then tracks what
        # the program touches, not when the collector chose to grow
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
            " -XX:-UsePerfData",  # no hsperfdata file outside the checkout
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of
    all order statistics. With a few heterogeneous ops per pass, a single
    order statistic jumps from one op to its neighbour between runs; the
    weighted form moves smoothly."""
    xs = sorted(values)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    # Beta(a, b) cdf at i/n by the midpoint rule on a fine grid
    grid = (np.arange(20000) + 0.5) / 20000
    logpdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid) \
        + math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(logpdf)) / 20000])
    edges = cdf[np.round(np.arange(n + 1) / n * 20000).astype(int)]
    weights = np.diff(edges) / edges[-1]
    return float(np.dot(weights, xs))


def stop_jvm() -> None:
    """End the JVM pyspark launched and wait for it (its Python workers
    end with it): the gateway exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Runner:
    """One workload in one process: set-up, warm-up, timed passes."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.env = host_env()
        os.environ.update({k: v for k, v in self.env.items() if k.startswith("SPARK_")})
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["SPARK_GRAFT_STREAM_CKPT"] = os.path.join(work, "tmp")
        sys.path.insert(0, ROOT)
        import tempfile

        tempfile.tempdir = os.path.join(work, "tmp")
        import workloads
        from data_table_spark import get_spark

        self.get_spark = get_spark
        self.wl = workloads.WORKLOADS[args.workload]
        self.sf = workloads.SMOKE_SF if args.smoke else self.wl.sf
        self.ops = self.wl.ops()
        self.key = f"{self.wl.name}@{self.sf}"
        self.spark = None
        self.spans = None

    # ---- set-up -------------------------------------------------------
    def start_session(self, traced: bool) -> float:
        t0 = time.perf_counter()
        self.spark = self.get_spark(
            f"perfbench-{self.wl.name}", **session_conf(self.work, traced)
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def prepare_inputs(self) -> None:
        import bench
        import datagen

        src = os.path.join(self.work, "src")
        self.rows = datagen.write_tables(src, self.sf, DATA_SEED)
        data, _ = bench.scan_parallel_copy(src)
        self.ctx = {"data": data, "out": os.path.join(self.work, "out")}
        os.makedirs(self.ctx["out"], exist_ok=True)
        self.ctx["source_dtypes"], self.ctx["source"] = {}, {}

    def read_source(self, table: str) -> None:
        """Schema and (rows, hash) of a table an ingest op writes out."""
        from workloads import count_and_hash

        df = self.spark.read.parquet(os.path.join(self.ctx["data"], f"{table}.parquet"))
        self.ctx["source_dtypes"][table] = df.dtypes
        self.ctx["source"][table] = count_and_hash(df)

    def load_expected(self) -> None:
        with open(EXPECTED) as fh:
            table = json.load(fh).get(self.key)
        if table is None:
            raise SystemExit(f"no expected results for {self.key}; run --record")
        for op in self.ops:
            exp = table.get(op.name)
            if exp is None:
                raise SystemExit(f"no expected result for {op.name} in {self.key}")
            if exp["n"] == 0:
                raise SystemExit(f"refused: {op.name} expects an empty result")
            op.expect = exp

    def warm_up(self) -> None:
        """Run every op once, chains in parallel threads (untimed), and
        record which input tables each op reads. Chains are submitted
        last-declared first: the workloads list their heaviest ops last,
        and starting those first shortens the warm-up."""
        import threading
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql.readwriter import DataFrameReader

        import bench

        local = threading.local()
        orig = DataFrameReader.parquet

        def recording(reader, *paths, **options):
            seen = getattr(local, "seen", None)
            if seen is not None:
                seen.update(os.path.basename(str(p)).removesuffix(".parquet")
                            for p in paths)
            return orig(reader, *paths, **options)

        chains: dict[str, list] = {}
        for op in self.ops:
            chains.setdefault(op.chain or op.name, []).append(op)

        def run_chain(chain):
            for op in chain:
                if op.pair:
                    self.read_source(op.tables[0])
                local.seen = set()
                try:
                    op.action(op.build(self.spark, self.ctx))
                except Exception as e:  # reported by the timed passes
                    print(f"# warm-up {op.name}: {type(e).__name__}: {e}",
                          file=sys.stderr)
                if not op.tables:
                    op.tables = tuple(sorted(local.seen & set(self.rows)))
                local.seen = None

        DataFrameReader.parquet = recording
        try:
            workers = min(int(self.env["SPARK_GRAFT_CPUS"]), len(chains))
            with ThreadPoolExecutor(workers) as ex:
                for fut in [ex.submit(run_chain, c) for c in reversed(chains.values())]:
                    fut.result()
        finally:
            DataFrameReader.parquet = orig
        bench._release_persisted(self.spark)

    # ---- timed passes -------------------------------------------------
    def check(self, op, result) -> str | None:
        """None if the op's result is right, else why not."""
        if op.pair:
            (table,) = op.tables
            want = self.ctx["source"][table]
        elif result is None:  # a write: checked by the read-back op
            return None
        else:
            want = (op.expect["n"], op.expect.get("h"))
        n, h = result
        if n != want[0]:
            return f"rows {n} != {want[0]}"
        if want[1] is not None and h != want[1]:
            return f"hash {h} != {want[1]}"
        return None

    def order(self, rng: random.Random) -> list:
        ops = list(self.ops)
        rng.shuffle(ops)
        # a read-back op runs after the write it reads
        for op in [o for o in ops if o.pair]:
            w = next(o for o in ops if o.name == op.pair)
            i, j = ops.index(op), ops.index(w)
            if i < j:
                ops[i], ops[j] = ops[j], ops[i]
        return ops

    def run_op(self, op, tag: str | None) -> dict:
        import bench

        sc = self.spark.sparkContext
        rec = {"op": op.name, "error": None}
        built = result = None
        cpu0 = proctree.cpu_by_role()
        t_op = time.perf_counter()
        try:
            for phase in _PHASES:
                if tag is not None:
                    sc.setJobGroup(f"{tag}:{op.name}:{phase}", f"{op.name} {phase}")
                w0, t0 = time.time(), time.perf_counter()
                try:
                    if phase == "build":
                        built = op.build(self.spark, self.ctx)
                    else:
                        result = op.action(built)
                finally:
                    rec[phase] = {"wall": time.perf_counter() - t0,
                                  "t0": w0, "t1": time.time()}
                    if tag is not None:
                        rec[phase]["group"] = f"{tag}:{op.name}:{phase}"
            rec["error"] = self.check(op, result)
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {e}"
        rec["wall"] = time.perf_counter() - t_op
        cpu1 = proctree.cpu_by_role()
        rec["cpu"] = sum(cpu1.values()) - sum(cpu0.values())
        if tag is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        built = result = None
        rec["released"] = bench._release_persisted(self.spark)
        return rec

    def passes(self, traced: bool, count: int) -> list[dict]:
        rng = random.Random(self.args.seed)
        out: list[dict] = []
        for _ in range(count):
            tag = f"pb{len(out)}" if traced else None
            # each pass starts from a collected heap (untimed)
            self.spark.sparkContext._jvm.System.gc()
            cpu0, steal0 = proctree.cpu_by_role(), proctree.host_ticks()
            recs = [self.run_op(op, tag) for op in self.order(rng)]
            cpu1, steal1 = proctree.cpu_by_role(), proctree.host_ticks()
            # a read-back that fails also fails the write it read back
            bad = {r["op"] for r in recs if r["error"]}
            for op in self.ops:
                if op.pair and op.name in bad:
                    w = next(r for r in recs if r["op"] == op.pair)
                    w["error"] = w["error"] or f"read-back {op.name} failed"
            wall = sum(r["wall"] for r in recs)
            rows_in = sum(
                self.rows.get(t, 0) for op in self.ops for t in op.tables
            )
            out.append({
                "ops": recs, "wall": wall, "rows_in": rows_in,
                "cpu": {k: cpu1[k] - cpu0[k] for k in cpu1},
                "released": sum(r["released"] for r in recs),
                "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            })
        return out

    # ---- metrics ------------------------------------------------------
    @staticmethod
    def best_of(passes: list[dict]) -> dict[str, tuple[float, float]]:
        """Each op's least wall time and least CPU over the passes. Host
        load only ever adds time, so the least of k samples taken at
        different moments of the run is the op's own cost with the
        fewest interruptions in it."""
        walls: dict[str, list[float]] = {}
        cpus: dict[str, list[float]] = {}
        for p in passes:
            for r in p["ops"]:
                walls.setdefault(r["op"], []).append(r["wall"])
                cpus.setdefault(r["op"], []).append(r["cpu"])
        return {op: (min(walls[op]), min(cpus[op])) for op in walls}

    def end_to_end(self, passes: list[dict], setup_s: float, rss_mb: float) -> dict:
        best = self.best_of(passes)
        wall = sum(w for w, _ in best.values())
        op_walls = [w for w, _ in best.values()]
        return {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "cpu_s": (sum(c for _, c in best.values()), "s"),
            "op_p50_s": (quantile(op_walls, 0.5), "s"),
            "op_p90_s": (quantile(op_walls, 0.9), "s"),
            "rows_per_s": (passes[0]["rows_in"] / wall, "1/s"),
            "peak_rss_mb": (rss_mb, "MB"),
        }

    def per_layer(self, passes: list[dict], after: list[dict],
                  log_path: str, session_s: float) -> tuple[dict, float]:
        import layertrace

        log = layertrace.parse_event_log(log_path)
        phases = [r[ph] for p in passes for r in p["ops"] for ph in _PHASES if ph in r]
        layertrace.attribute(log, phases)
        k = len(passes)
        m: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}
        tasks: dict[str, float] = {}
        for ph in _PHASES:
            recs = [r[ph] for p in passes for r in p["ops"] if ph in r]
            wall = sum(x["wall"] for x in recs)
            job_wall = sum(x["job_wall"] for x in recs)
            m[f"{ph}.wall_s"] = (wall / k, "s")
            m[f"{ph}.jobs"] = (sum(x["jobs"] for x in recs) / k, "count")
            m[f"{ph}.job_wall_s"] = (job_wall / k, "s")
            m[f"{ph}.driver_s"] = ((wall - job_wall) / k, "s")
            if ph == "action":
                m["action.stages"] = (sum(x["stages"] for x in recs) / k, "count")
                m["action.tasks"] = (
                    sum(x["task"].get("tasks", 0) for x in recs) / k, "count"
                )
            for x in recs:
                for key, v in x["task"].items():
                    tasks[key] = tasks.get(key, 0) + v
        for name, key, unit in (
            ("task.run_s", "run_s", "s"), ("task.cpu_s", "cpu_s", "s"),
            ("task.gc_s", "gc_s", "s"),
            ("shuffle.write_bytes", "shuffle_write", "bytes"),
            ("shuffle.read_bytes", "shuffle_read", "bytes"),
            ("spill.bytes", "spill", "bytes"),
            ("scan.read_bytes", "scan_read", "bytes"),
            ("output.write_bytes", "output_write", "bytes"),
        ):
            m[name] = (tasks.get(key, 0) / k, unit)
        for role in ("jvm", "pydriver", "pyworker"):
            m[f"{role}.cpu_s"] = (sum(p["cpu"][role] for p in passes) / k, "s")
        m["jvm.nontask_cpu_s"] = (m["jvm.cpu_s"][0] - m["task.cpu_s"][0], "s")
        m["core.released_rdds"] = (sum(p["released"] for p in passes) / k, "count")
        self_s = self.spans.self_seconds()
        jobs = {layer: 0 for layer in self_s}
        for x in phases:
            for start in x["job_starts"]:
                layer = self.spans.layer_at(start)
                if layer is not None:
                    jobs[layer] += 1
        for layer in self_s:
            m[f"span.{layer}.self_s"] = (self_s[layer] / k, "s")
            m[f"span.{layer}.jobs"] = (jobs[layer] / k, "count")
        m["trace.overhead_s"] = (
            sum(w for w, _ in self.best_of(passes).values())
            - sum(w for w, _ in self.best_of(after).values()), "s"
        )
        # reconciliation: phase walls sum to the op's wall, and the jobs
        # charged to a phase by job group lie inside its wall window
        worst = 0.0
        for p in passes:
            for r in p["ops"]:
                if not all(ph in r for ph in _PHASES):
                    continue
                gap = abs(r["build"]["wall"] + r["action"]["wall"] - r["wall"])
                gap += sum(r[ph]["job_wall_unclipped"] - r[ph]["job_wall"]
                           for ph in _PHASES)
                worst = max(worst, gap / r["wall"])
        m["recon.max_err"] = (worst, "ratio")
        return m, worst

    # ---- whole run ----------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        import pyspark

        import workloads

        self.load_expected()
        t0 = proctree.process_age_s()
        session_s = self.start_session(traced=False)
        t1 = time.perf_counter()
        self.prepare_inputs()
        t2 = time.perf_counter()
        self.warm_up()
        setup_s = proctree.process_age_s()
        setup = {"imports_s": t0, "session_s": session_s, "inputs_s": t2 - t1,
                 "warm_up_s": time.perf_counter() - t2}
        sc = self.spark.sparkContext
        env = {
            "nproc": int(self.env["SPARK_GRAFT_CPUS"]),
            "MemTotal_kb": int(self.env["MemTotal_kb"]),
            "pyspark": pyspark.__version__,
            "java": sc._jvm.System.getProperty("java.version"),
            "spark_conf": dict(sc.getConf().getAll()),
            "seed": self.args.seed, "data_seed": DATA_SEED, "sf": self.sf,
        }
        recon = None
        if not self.args.trace:
            # a fixed pass count per run, so every run measures the same work
            count = max(1, round(self.args.seconds / self.wl.pass_s))
            untraced = self.passes(traced=False, count=count)
            metrics = self.end_to_end(untraced, setup_s, proctree.peak_rss_mb())
            all_passes = untraced
        else:
            # one traced pass, then one untraced pass in a fresh session:
            # both start in a new session in the same warm JVM, so their
            # difference is the tracing overhead
            import layertrace

            self.spark.stop()
            env["traced_session_start_s"] = self.start_session(traced=True)
            self.spans = layertrace.Spans()
            self.spans.install()
            try:
                traced = self.passes(traced=True, count=1)
            finally:
                self.spark.stop()
                self.spans.uninstall()
            self.start_session(traced=False)
            untraced = self.passes(traced=False, count=1)
            (log_path,) = [
                os.path.join(self.work, "eventlog", f)
                for f in os.listdir(os.path.join(self.work, "eventlog"))
            ]
            metrics, recon = self.per_layer(traced, untraced, log_path, session_s)
            all_passes = traced + untraced
        self.spark.stop()
        stop_jvm()
        recs = [r for p in all_passes for r in p["ops"]]
        failed = sum(1 for r in recs if r["error"])
        report = {
            "workload": self.wl.name, "why": self.wl.why, "env": env,
            "trace": self.args.trace, "setup": setup,
            "fail_ratio": {"value": failed / len(recs), "unit": "ratio"},
            "op_samples": len([r for p in untraced for r in p["ops"]]),
            "passes": len(untraced),
            "pass_wall_s": [p["wall"] for p in untraced],
            # CPU time the hypervisor gave other guests: a noisy-host flag
            "pass_steal_share": [p["steal_share"] for p in untraced],
            "excluded": workloads.EXCLUDED,
            "ops": {
                op.name: {
                    "wall_s": [r["wall"] for r in recs if r["op"] == op.name],
                    "tables": list(op.tables),
                } for op in self.ops
            },
            "errors": sorted({f'{r["op"]}: {r["error"]}' for r in recs if r["error"]}),
            "reconciliation": None if recon is None else {
                "max_err": recon, "tolerance": RECON_TOL, "ok": recon <= RECON_TOL,
            },
        }
        result = {
            "correct": failed == 0, "attempted": len(recs), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return report, result

    def record(self) -> None:
        """Run each op once and store its (rows, hash) as expected, after
        checking the row count against the DuckDB oracle. A hash that
        differs from an earlier recording is stored as null: that op is
        then checked by row count only."""
        import bench
        import duckdb

        from data_table_spark.queries import ORACLE

        self.start_session(traced=False)
        self.prepare_inputs()
        con = duckdb.connect()
        for t in self.rows:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.ctx['data']}/{t}.parquet/*.parquet'"
            )
        with open(EXPECTED) as fh:
            store = json.load(fh)
        table = store.setdefault(self.key, {})
        for op in self.ops:
            if op.pair:
                self.read_source(op.tables[0])
            res = op.action(op.build(self.spark, self.ctx))
            if op.pair:
                res = self.ctx["source"][op.tables[0]]
            entry = {"n": None, "h": None} if res is None else {"n": res[0], "h": res[1]}
            if res is None:
                entry["n"] = self.rows[op.tables[0]]
            elif op.name in ORACLE:
                oracle_n = con.execute(f"SELECT count(*) FROM ({ORACLE[op.name]})").fetchone()[0]
                if oracle_n != res[0]:
                    raise SystemExit(f"{op.name}: {res[0]} rows, oracle {oracle_n}")
                entry["oracle_n"] = oracle_n
            old = table.get(op.name)
            if old is not None:
                if old["n"] != entry["n"]:
                    raise SystemExit(f"{op.name}: rows changed {old['n']} -> {entry['n']}")
                if old.get("h") != entry["h"]:
                    entry["h"] = None
                    entry["note"] = "hash differs between recordings: rows only"
            if op.pair or res is None:
                entry["h"] = None
                entry["note"] = "checked against the source table"
            table[op.name] = entry
            print(op.name, entry, flush=True)
            bench._release_persisted(self.spark)
        self.spark.stop()
        stop_jvm()
        with open(EXPECTED, "w") as fh:
            json.dump(store, fh, indent=1, sort_keys=True)
            fh.write("\n")


def smoke() -> int:
    """Every workload at sf0.001, trace 0 and 1: all declared metrics
    present with their units, and no failed op."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad = 0
    for wl in (w["name"] for w in spec["workloads"]):
        for tr, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", wl,
                 "--seed", "1", "--seconds", "1", "--trace", str(tr), "--smoke"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"FAIL {wl} trace={tr}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                bad += 1
                continue
            got = json.loads(lines[-1])
            report = json.loads(lines[-2])
            problems = [
                f"{m['name']} missing or not in {m['unit']}" for m in names
                if got["metrics"].get(m["name"], {}).get("unit") != m["unit"]
            ]
            if got["failed"] or report["fail_ratio"]["value"] != 0:
                problems.append(f"failed ops: {report['errors']}")
            rc = report["reconciliation"]
            if rc is not None and not rc["ok"]:
                problems.append(f"reconciliation error {rc['max_err']:.3f}")
            print(("FAIL" if problems else "ok"), wl, f"trace={tr}", *problems)
            bad += bool(problems)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="run at sf0.001")
    ap.add_argument("--record", action="store_true",
                    help="store this workload's results as expected")
    args = ap.parse_args()
    missing = [p for p in ("bench.py", "data_table_spark") if not os.path.exists(
        os.path.join(ROOT, p))]
    if missing:
        print(f"not a data_table_spark checkout: {missing} missing", file=sys.stderr)
        return 2
    if args.workload is None:
        if args.smoke:
            return smoke()
        ap.error("--workload is required")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        runner = Runner(args, work)
        if args.record:
            runner.record()
            return 0
        report, result = runner.run()
    finally:
        stop_jvm()  # on every way out: no JVM or worker outlives the run
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
