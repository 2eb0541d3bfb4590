"""The repository benchmark: one workload, one process, one client.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 15 --trace 0

Run it from the repository root. It builds its inputs under
``.perfbench/`` (see ``gen.py``), starts one ``local[nproc / 2]``
session through ``demy_spark.session.get_spark`` and runs the
workload's ops in a closed loop:

1. set-up: session start with the JVM launch, input staging and
   catalog open (``io.load_tables``); then the workload's warm-up
   passes, the first of which checks the query results against the
   registry oracles with the set-up clock paused;
2. the timed phase: whole passes until ``--seconds`` have elapsed. The
   seed shuffles the op order of every pass (and, for ``ingest``,
   draws the batch boundaries);
3. for ``ingest``, a check of the final store against a one-shot
   aggregation of all events.

After every op the session is isolated: cached plans and persisted
RDDs are released and changed conf keys restored.

``--trace 0`` runs the session with ``get_spark``'s own settings and
prints the end-to-end metrics. ``--trace 1`` traces every timed pass:
it reads the status stores after each op, prints the per-layer metrics
and writes every span and op record to ``.perfbench/traces/``. The
metric names and units are those ``BENCHMARK.json`` lists. The last
stdout line is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
# metric name -> unit, as BENCHMARK.json lists them
E2E_UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


class Bench:
    def __init__(self, args, wl) -> None:
        from workloads import SMOKE_SF

        self.args = args
        self.wl = wl
        self.sf = SMOKE_SF if args.smoke else wl.sf
        self.rng = random.Random(args.seed)
        self.nproc = len(os.sched_getaffinity(0))
        # Half the CPUs run tasks; the rest are left to the JIT compiler
        # and GC threads, the driver and the Python workers. On a 4 vCPU
        # host, local[4] kept every pass short of CPU: steady passes were
        # 15-30% slower, and ingest passes ran 7-12 s up to the sixth pass
        # and 5 s after it. At local[2] they held at 3.3-4.4 s from the
        # third pass on
        self.cores = max(1, self.nproc // 2)
        self.partitions = min(self.nproc, 16)
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.spark = None
        self.ops: list = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.records: list[dict] = []
        self.spans: list[dict] = []
        self.store_reads: list[float] = []

    # -- inputs and session ---------------------------------------------

    def make_inputs(self) -> None:
        import gen

        ident = f"gen{gen.GEN_VERSION}-seed{gen.DATA_SEED}-sf{self.sf}-{'-'.join(self.wl.tables)}"
        self.data_dir = os.path.join(WORK, "data", ident)
        done = os.path.join(self.data_dir, "_DONE")
        if not os.path.exists(done):
            tmp = f"{self.data_dir}.tmp{os.getpid()}"
            gen.write(self.sf, self.wl.tables, tmp)
            shutil.rmtree(self.data_dir, ignore_errors=True)
            os.replace(tmp, self.data_dir)
            open(done, "w").close()
        self.oracle_cache = os.path.join(WORK, "oracle", f"{ident}.json")
        os.makedirs(os.path.dirname(self.oracle_cache), exist_ok=True)

    def start_session(self):
        from demy_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # get_spark's default 8g heap leaves peak RSS to when G1
            # grows the heap: 3.2-4.4 GB over ten runs of the same code.
            # A 1g heap fills during warm-up and holds RSS within a few
            # percent, with no slower passes. The heap starts at that
            # size too (-Xms): grown on demand from the JVM's default
            # start size, ingest's peak RSS spread 0.94-1.14 GB
            "spark.driver.memory": "1g",
            # keep Spark's scratch and the JVM's temp files in the run dir
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.args.trace:
            conf.update({
                # every op's SQL executions stay readable for the plan digest
                "spark.sql.ui.retainedExecutions": "100000",
                # without reference tracking, the blocks and shuffles an
                # op leaves behind stay until the isolation step releases
                # them, instead of whenever a JVM GC lets the context
                # cleaner reclaim them: cache.persisted_rdds and the
                # skipped-stage counts then repeat from run to run
                "spark.cleaner.referenceTracking": "false",
            })
        return get_spark(
            "perfbench", master=f"local[{self.cores}]", shuffle_partitions=self.partitions, extra_conf=conf
        )

    def setup(self) -> dict:
        """Cold set-up: JVM and session, staging, catalog."""
        from demy_spark.io import load_tables
        from workloads import IngestOp, QueryOp, stage_batches

        t0 = time.perf_counter()
        self.spark = self.start_session()
        t1 = time.perf_counter()
        if self.wl.batches:
            dirs = stage_batches(
                self.spark, self.data_dir, os.path.join(self.run_dir, "batches"), self.wl.batches, self.args.seed
            )
        t2 = time.perf_counter()
        catalog = load_tables(self.spark, self.data_dir)
        for name in self.wl.tables:
            catalog[name].schema  # footer probe, schema read, temp view
        t3 = time.perf_counter()
        if self.wl.batches:
            self.ops = [IngestOp(d) for d in dirs]
        else:
            self.ops = [QueryOp(q, self.data_dir, ts) for q, ts in self.wl.queries.items()]
        return {"get_spark_s": t1 - t0, "stage_s": t2 - t1, "load_tables_s": t3 - t2, "wall_s": t3 - t0}

    # -- ops and passes ---------------------------------------------------

    def run_op(self, op, label: str, traced: bool, check=None) -> dict:
        """One op: plan phase, exec phase (or, with ``check``, a collect
        whose rows ``check`` verifies), then isolation."""
        spark = self.spark
        rec = {"op": op.name, "rows": op.rows, "ok": True, "check_s": 0.0, "trace_s": 0.0}
        self.attempted += 1
        before = self.iso.snapshot()
        groups = [f"{label}.plan", f"{label}.exec"]

        def tracing(fn, *a):
            """Call a tracing step and add its time to the op's trace_s."""
            s = time.perf_counter()
            out = fn(*a)
            rec["trace_s"] += time.perf_counter() - s
            return out

        exec_from = tracing(self.probe.executions_count) if traced else 0
        try:
            w0 = time.time()
            t0 = time.perf_counter()
            if traced:
                tracing(self.probe.set_group, groups[0])
            frame = op.plan(spark)
            t1 = time.perf_counter()
            if traced:
                tracing(self.probe.set_group, groups[1])
            if check is None:
                op.exec(spark, frame)
            else:
                rows = frame.collect()
            t2 = time.perf_counter()
            w2 = time.time()
            if check is not None:
                rec["ok"] = check(op, frame.columns, rows)
                rec["check_s"] = time.perf_counter() - t2
        except Exception as exc:  # an op failure is counted, not fatal
            t1 = t2 = time.perf_counter()
            rec["ok"] = False
            self.errors.append(f"{label} {op.name}: {type(exc).__name__}: {str(exc)[:300]}")
            traceback.print_exc(file=sys.stderr)
        finally:
            if traced:
                tracing(self.probe.set_group, None)
        if not rec["ok"]:
            self.failed += 1
        rec.update({"wall_s": t2 - t0, "queries.plan_s": t1 - t0, "queries.exec_s": t2 - t1})
        if traced and rec["ok"]:
            tracing(self.record_trace, rec, op, label, groups, exec_from, w0, w2)
        rec.update(self.iso.release(before))
        return rec

    def record_trace(self, rec, op, label, groups, exec_from, w0, w2) -> None:
        """Add an op's status-store counters to its record and its spans
        to the span list."""
        counters, spans = self.probe.read(groups, exec_from, w0, w2)
        rec.update(counters)
        if self.wl.batches:
            from workloads import store_versions, version_files

            rec["streaming.versions_on_disk"] = len(store_versions(op.store))
            rec["io.output_files"] = version_files(op.store)
        plan_end = w0 + rec["queries.plan_s"]
        self.spans += [
            {"id": label, "kind": "op", "name": op.name, "parent": label.split(".")[0], "start": w0, "end": w2},
            {"id": groups[0], "kind": "plan", "parent": label, "start": w0, "end": plan_end},
            {"id": groups[1], "kind": "exec", "parent": label, "start": plan_end, "end": w2},
        ]
        self.spans += spans

    def run_pass(self, p: int, traced: bool, check=None) -> dict:
        from probe import ProcTree

        ops = list(self.ops)
        self.rng.shuffle(ops)
        if self.wl.batches:
            store = os.path.join(self.run_dir, f"store{p}")
            for epoch, op in enumerate(ops):
                op.store, op.txn, op.epoch = store, f"pass{p}", epoch
        tree = ProcTree()
        cpu0 = tree.cpu_s()
        w0 = time.time()
        t0 = time.perf_counter()
        recs = [self.run_op(op, f"p{p}.o{k}", traced, check) for k, op in enumerate(ops)]
        wall = time.perf_counter() - t0
        w1 = time.time()
        cpu = tree.cpu_s() - cpu0
        for r in recs:
            r.update({"pass": p, "traced": traced})
        self.records += recs
        self.spans.append(
            {"id": f"p{p}", "kind": "pass", "parent": self.wl.name, "traced": traced,
             "start": w0, "end": w1}
        )
        if self.wl.batches:
            if traced:
                self.store_reads.append(self.read_store(store))
            shutil.rmtree(os.path.join(self.run_dir, f"store{p - 1}"), ignore_errors=True)
        return {
            "pass": p, "traced": traced, "wall_s": wall, "cpu_s": cpu, "records": recs,
            "trace_s": sum(r["trace_s"] for r in recs),
        }

    def read_store(self, store: str) -> float:
        from demy_spark.streaming.rollup import read_rollup_store

        t0 = time.perf_counter()
        read_rollup_store(self.spark, store).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # -- checks -----------------------------------------------------------

    def expected_digests(self) -> dict[str, dict]:
        """Oracle digest of every query op; missing ones are computed
        in a child process (``oracle.py``) and cached."""
        from oracle import cache_key, load

        keys = {op.name: cache_key(op.name, op.query.oracle) for op in self.ops}
        cache = load(self.oracle_cache)
        missing = [name for name, key in keys.items() if key not in cache]
        if missing:
            subprocess.run(
                [sys.executable, os.path.join(HERE, "oracle.py"), self.data_dir, self.oracle_cache, *missing],
                check=True,
            )
            cache = load(self.oracle_cache)
        return {name: cache[key] for name, key in keys.items()}

    def check_query(self, op, cols, rows) -> bool:
        from oracle import digest

        want = self.expected[op.name]
        got = digest(cols, rows)
        if got != want:
            self.errors.append(f"{op.name}: result {got} != oracle {want}")
            return False
        return True

    def check_store(self, store: str) -> bool:
        from demy_spark.operators.temporal import aggregate_partials
        from demy_spark.streaming.rollup import read_rollup_store
        from oracle import digest
        from workloads import ROLLUP_KEYS, events_rows, rollup_spec

        cols = ["hour", "event_type", "n", "cents_sum", "min_cents", "max_cents"]
        got = read_rollup_store(self.spark, store).select(*cols).collect()
        one_shot = aggregate_partials(
            events_rows(self.spark, self.data_dir), ROLLUP_KEYS, **rollup_spec()
        )
        want = one_shot.select(*cols).collect()
        if not got or digest(cols, got) != digest(cols, want):
            self.errors.append(f"final store ({len(got)} rows) != one-shot rollup ({len(want)} rows)")
            return False
        return True

    # -- the run ------------------------------------------------------------

    def run(self) -> dict:
        from probe import Isolation, ProcTree, StatusProbe

        args = self.args
        w_start = time.time()
        self.make_inputs()
        setup = self.setup()
        self.iso = Isolation(self.spark)
        self.probe = StatusProbe(self.spark) if args.trace else None
        check = None
        if not self.wl.batches:
            self.expected = self.expected_digests()
            check = self.check_query
        warm = [self.run_pass(p, False, None if p else check) for p in range(self.wl.warmup)]
        warm_s = sum(x["wall_s"] for x in warm) - sum(r["check_s"] for r in warm[0]["records"])
        setup_s = setup["wall_s"] + warm_s

        passes = []
        t0 = time.perf_counter()
        p = self.wl.warmup
        while not passes or time.perf_counter() - t0 < args.seconds:
            passes.append(self.run_pass(p, bool(args.trace)))
            p += 1
        timed_s = time.perf_counter() - t0
        peak_rss = ProcTree().peak_rss_mb()

        if self.wl.batches:
            self.attempted += 1
            if not self.check_store(os.path.join(self.run_dir, f"store{p - 1}")):
                self.failed += 1
        self.spans.append(
            {"id": self.wl.name, "kind": "workload", "parent": None, "start": w_start, "end": time.time()}
        )

        pass_s = statistics.median(x["wall_s"] for x in passes)
        e2e = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "rows_per_s": sum(op.rows for op in self.ops) / pass_s,
            "cpu_s_per_pass": statistics.median(x["cpu_s"] for x in passes),
            "peak_rss_mb": peak_rss,
        }
        layers = self.layer_metrics(setup, passes) if args.trace else {}
        stamp = {
            "workload": self.wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "sf": self.sf,
            "nproc": self.nproc,
            "master": self.spark.sparkContext.master,
            "shuffle_partitions": self.partitions,
            "pyspark": __import__("pyspark").__version__,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "passes": len(passes),
            "ops_timed": sum(len(x["records"]) for x in passes),
            "timed_s": round(timed_s, 3),
            "pass_walls_s": ",".join(f"{x['wall_s']:.3f}" for x in passes),
        }
        return {"stamp": stamp, "setup": setup, "e2e": e2e, "layers": layers}

    def layer_metrics(self, setup: dict, passes: list[dict]) -> dict:
        per_pass = []
        for x in passes:
            recs = x["records"]
            m = {k: sum(r.get(k, 0) for r in recs) for k in LAYER_UNITS}
            m["streaming.versions_on_disk"] = max(r.get("streaming.versions_on_disk", 0) for r in recs)
            m["exec.cpu_ratio"] = m["exec.cpu_ms"] / m["exec.run_ms"] if m["exec.run_ms"] else 0.0
            per_pass.append(m)
        out = {k: statistics.median(m[k] for m in per_pass) for k in LAYER_UNITS}
        out["session.get_spark_s"] = setup["get_spark_s"]
        out["io.load_tables_s"] = setup["load_tables_s"]
        out["streaming.read_rollup_store_s"] = (
            statistics.median(self.store_reads) if self.store_reads else 0.0
        )
        out["trace.overhead_s"] = statistics.median(x["trace_s"] for x in passes)
        return out

    def write_trace(self, result: dict) -> str:
        path = os.path.join(WORK, "traces", f"{self.wl.name}-seed{self.args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {**result, "ops": self.records, "spans": self.spans, "errors": self.errors},
                f,
                indent=1,
            )
        return path

    def close(self) -> None:
        """Stop the session, then the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        shutil.rmtree(self.run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (sf0.001), for the self-test")
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"  # collected timestamps compare as naive UTC
    time.tzset()
    sys.path.insert(0, ROOT)
    try:
        import demy_spark.queries  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: demy_spark is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    bench = Bench(args, WORKLOADS[args.workload])
    # pyspark's gateway files, the Python workers and Spark's local dirs
    # write temp files; keep them inside the run directory
    tmp = os.path.join(bench.run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    try:
        result = bench.run()
        trace_path = bench.write_trace(result) if args.trace else None
    finally:
        bench.close()

    for err in bench.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    units = LAYER_UNITS if args.trace else E2E_UNITS
    values = result["layers"] if args.trace else result["e2e"]
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    fail_ratio = bench.failed / bench.attempted
    print(
        "perfbench "
        + " ".join(f"{k}={v}" for k, v in result["stamp"].items())
        + f" fail_ratio={fail_ratio:.4f} ({bench.failed}/{bench.attempted})"
        + (f" trace_file={os.path.relpath(trace_path, ROOT)}" if trace_path else "")
    )
    for k, m in metrics.items():
        print(f"  {k:32s} {m['value']:>16.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
