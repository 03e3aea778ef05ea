"""Benchmark of the star-schema engine: one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (``workloads.py``): ``ssb_flight`` and ``dialect_frontdoor``.
One process, one SparkSession on ``local[k]`` with k = min(2, usable
cores), at the package's defaults apart from the core count and its
directories; every temporary file goes to a per-run directory under
``perfbench/.run/`` that is deleted at exit.  A single client issues one
op at a time (closed loop).

A run:

1. generates the inputs into ``perfbench/.data/`` once per checkout
   (``gen.py``; not timed);
2. sets up ``SETUPS`` times: a new session (the first set-up also
   starts the JVM and imports the package), the first load of every
   input table through the catalog (re-chunk included) from a fresh
   path, and the ClickHouse compat registration or the dbt project.
   ``setup_s`` is their median;
3. runs every op once, untimed, in the seed's order, and checks each
   query's result against its DuckDB twin (``check.py``); this pass is
   also the warm-up, and its first refresh builds the dbt models;
4. runs the workload's untimed warm-up rounds, then the timed rounds,
   each op once per round in an order permuted by ``--seed``: as many
   whole rounds as ``--seconds`` holds at the workload's nominal round
   time, at least one (two when tracing);
5. checks the dbt ``star`` TABLE and the incremental model that the
   refreshes left against DuckDB over the same inputs.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are:

* ``op_mean_s`` — mean wall time of one op over the timed rounds (their
  op time over the ops timed); an op is one query, one front-door
  statement, or one dbt refresh.  A mean rather than a median: ops
  differ tenfold in length (a 0.3-s query, a 3-s refresh), and the
  median of a dozen such samples jumps from one op to another;
* ``setup_s`` — median set-up time (above);
* ``stored_bytes_per_row`` — bytes on disk of the stored relation the
  ops scan, per row: the dbt ``star`` TABLE for ``ssb_flight``, the
  catalog's scan files of ``lineitem`` for ``dialect_frontdoor``;
* ``pass_ratio`` — ops that neither raised nor failed the check, per op
  attempted.

With ``--trace 1`` every other op is traced (the other half in the next
round), and the metrics are the per-layer ones of ``PER_LAYER``
(``spans.py`` says how each layer is measured): set-up layers per
set-up, op layers per round of traced ops, per-op and per-model times
as medians, JVM and host counters as medians per timed round, and
``trace.overhead_s``, the median over ops of each op's traced minus its
untraced median time.  Either way ``perfbench/.out/`` receives the
per-round series (round and op times, host steal, JVM CPU, GC and JIT
seconds) and the phase times, and with tracing the spans, so a spread
can be traced to its cause.

``--sf`` exists for the benchmark's own tests (``test_run.py``).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import check  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SETUPS = 3  # the first also starts the JVM, so the median is a warm one
SSB_METRICS = tuple(
    f"ssb.{op.removeprefix('ssb_')}_s" for op in workloads.SSB_OPS
)
MODELS = (
    "stg_customer", "stg_orders", "stg_lineitem", "stg_part",
    "stg_supplier", "star", workloads.INCREMENTAL_MODEL,
)
PER_LAYER: tuple[tuple[str, str], ...] = (
    ("session.start_s", "s"),  # per set-up
    ("catalog.first_load_s", "s"),  # per set-up
    ("catalog.rechunk_bytes", "B"),
    ("compat.register_s", "s"),  # per set-up
    ("dialect.transpile_s", "s"),
    ("dialect.transpile_calls", "count"),
    ("dialect.resolver_s", "s"),
    ("dialect.resolver_calls", "count"),
    ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("exec.run_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.shuffle_bytes", "B"),
    ("exec.spill_bytes", "B"),
    *((m, "s") for m in SSB_METRICS),  # median op time
    *((f"models.{m}_s", "s") for m in MODELS),  # median per refresh
    ("models.files_written", "count"),
    ("models.bytes_written", "B"),
    ("ops.unattributed_s", "s"),
    ("jvm.cpu_s", "s"),  # this and the next four: median per timed round
    ("jvm.gc_s", "s"),
    ("jvm.jit_s", "s"),
    ("driver.cpu_s", "s"),
    ("host.steal_s", "s"),
    ("jvm.peak_rss_mb", "MB"),  # VmHWM at the end of the run
    ("driver.peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"),
)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="input scale (default: the workload's own)")
    return p.parse_args(argv)


def isolate(run_dir: str, cores: int) -> None:
    """Point every temporary and Spark directory at ``run_dir``."""
    os.environ["TMPDIR"] = run_dir
    tempfile.tempdir = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = run_dir
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the JVMs' monitoring files go to a fixed /tmp path otherwise
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        f"'-Djava.io.tmpdir={run_dir} -XX:-UsePerfData' pyspark-shell"
    )


def stop_jvm(spark) -> None:
    """Stop the session, if any, and the JVM, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def dir_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    ]


def local_path(uri: str) -> str:
    return uri.removeprefix("file://").removeprefix("file:")


class Bench:
    def __init__(self, args: argparse.Namespace, run_dir: str) -> None:
        self.args = args
        self.wl = workloads.make(args.workload, args.seed, args.sf)
        self.run_dir = run_dir
        self.tracer = spans.Tracer() if args.trace else None
        self.failures: list[tuple[str, str]] = []
        self.attempted = 0
        self.setups: list[dict] = []
        self.ops: list[dict] = []
        self.rounds: list[dict] = []

    # -- phases ---------------------------------------------------------

    def run(self) -> dict:
        # the first set-up starts at process start and includes the
        # package import; input generation is excluded
        sys.path.insert(0, ROOT)
        from clickhouse_vs_dbt_spark import session

        t = time.perf_counter()
        self.data_dir = os.path.join(HERE, ".data", f"sf{self.wl.sf:g}")
        gen.generate(self.data_dir, self.wl.sf)
        gen_s = time.perf_counter() - t
        self.con = check.duckdb_views(self.data_dir, gen.TABLES)
        spark = None
        try:
            for k in range(SETUPS):
                if spark is not None:
                    spark.stop()
                start = T0 if k == 0 else time.perf_counter()
                spark = self.setup(session, k)
                self.setups[-1]["s"] = (
                    time.perf_counter() - start - (gen_s if k == 0 else 0.0)
                )
            self.spark = spark
            self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            self.phases = {"setups": time.perf_counter() - T0}
            self.check_results(final=False)
            self.phases["check"] = time.perf_counter() - T0
            self.timed_rounds()
            self.phases["rounds"] = time.perf_counter() - T0
            self.check_results(final=True)
            stored = self.stored_bytes_per_row()
            rechunk = self.rechunk_bytes() if self.tracer else 0
            self.peak_mb = {"jvm": spans.proc_hwm_mb(self.jvm_pid),
                            "driver": spans.driver_hwm_mb()}
        finally:
            self.con.close()
            stop_jvm(spark)
        self.phases["end"] = time.perf_counter() - T0
        return self.result(stored, rechunk)

    def setup(self, session, k: int):
        """Set-up ``k``: a new session, and the workload's first loads
        from a fresh path, so the catalog loads (and re-chunks) every
        table as a new process would."""
        tr = self.tracer
        if tr:
            tr.install()
            mark = len(tr.spans)
        self.sf_dir = os.path.join(self.run_dir, f"in{k}")
        os.symlink(self.data_dir, self.sf_dir)
        try:
            spark = session.get_spark(
                "perfbench",
                extra_conf={"spark.sql.warehouse.dir":
                            os.path.join(self.run_dir, "warehouse")},
            )
            self.wl.setup(spark, self.sf_dir)
        finally:
            if tr:
                tr.uninstall()
        self.setups.append({"self": tr.self_times(tr.spans[mark:])} if tr else {})
        return spark

    def check_results(self, final: bool) -> None:
        """Before the timed rounds, run every op once and check the
        queries; after them, check the models the refreshes left."""
        expected = self.wl.expected()
        if final:
            results = self.wl.check_models(self.spark, self.con, expected)
        else:
            order = list(self.wl.op_names)
            random.Random(self.args.seed).shuffle(order)
            results = self.wl.check_queries(
                self.spark, self.sf_dir, self.con, order, expected
            )
        for name, err in results:
            self.attempted += 1
            if err is not None:
                self.failures.append((name, f"check: {err}"))

    def timed_rounds(self) -> None:
        rng = random.Random(self.args.seed)
        for _ in range(self.wl.warmup_rounds):
            order = list(self.wl.op_names)
            rng.shuffle(order)
            for name in order:
                self.attempted += 1
                try:
                    self.wl.run_op(self.spark, self.sf_dir, name)
                except Exception as e:
                    self.failures.append((name, f"raised: {e}"[:300]))
        # a fixed count of whole rounds for a given --seconds, from the
        # workload's nominal round time: a faster program then does the
        # same work, not more (and warmer) rounds
        rounds = max(2 if self.tracer else 1,
                     round(self.args.seconds / self.wl.round_s))
        for r in range(rounds):
            order = list(self.wl.op_names)
            rng.shuffle(order)
            before = self.diag()
            t = time.perf_counter()
            for name in order:
                # traced runs trace every other op of the op list, the
                # other half in the next round, so traced and untraced
                # ops share the JVM's state
                k = self.wl.op_names.index(name)
                self.run_op(r, name, traced=bool(self.tracer) and (k + r) % 2 == 1)
            took = time.perf_counter() - t
            after = self.diag()
            self.rounds.append({"round": r, "s": took,
                                **{k: after[k] - before[k] for k in before}})

    def diag(self) -> dict[str, float]:
        return {
            "jvm.cpu_s": spans.proc_cpu_s(self.jvm_pid),
            "driver.cpu_s": spans.driver_cpu_s(),
            "host.steal_s": spans.host_steal_s(),
            **{f"jvm.{k}": v for k, v in spans.jvm_counters(self.spark).items()},
        }

    def run_op(self, r: int, name: str, traced: bool) -> None:
        tr = self.tracer
        sc = self.spark.sparkContext
        op_id = f"r{r}:{name}"
        if traced:
            tr.install()
            if name == workloads.REFRESH:
                self.wl.project.hook = tr.model_hook
            tr.counts.clear()
            tr.op = op_id
            sc.setJobGroup(op_id, op_id)
            mark = len(tr.spans)
        self.attempted += 1
        df, ok = None, True
        t = time.perf_counter()
        try:
            if traced:
                with tr.span("op") as root:
                    df = self.wl.run_op(self.spark, self.sf_dir, name)
            else:
                df = self.wl.run_op(self.spark, self.sf_dir, name)
        except Exception as e:
            ok = False
            self.failures.append((name, f"raised: {e}"[:300]))
            traceback.print_exc(file=sys.stderr)
        rec = {"round": r, "op": name, "s": time.perf_counter() - t,
               "ok": ok, "traced": traced}
        if traced:
            tr.uninstall()
            if name == workloads.REFRESH:
                self.wl.project.hook = workloads.untraced
            sc.setLocalProperty("spark.jobGroup.id", None)
            if ok and df is not None:
                tr.add_catalyst(df, root.id)
            tr.add_jobs(self.spark, op_id, root.id)
            tr.op = None
            op_spans = tr.spans[mark:]
            rec["self"] = tr.self_times(op_spans)
            rec["counts"] = dict(tr.counts)
            rec["models"] = self.model_times(op_spans)
            if name == workloads.REFRESH and ok:
                rec["models"].update(self.written())
        self.ops.append(rec)

    # -- measurements ---------------------------------------------------

    def written(self) -> dict[str, float]:
        """Files and bytes of the relations the last refresh wrote."""
        wh = self.wl.project.runner.warehouse_dir
        prefix = f"{workloads.INCREMENTAL_MODEL}_v"
        current = max(
            (d for d in os.listdir(wh) if d.startswith(prefix)),
            key=lambda d: int(d.removeprefix(prefix)),
        )
        files = dir_files(os.path.join(wh, "star")) + dir_files(os.path.join(wh, current))
        return {"models.files_written": len(files),
                "models.bytes_written": sum(os.path.getsize(f) for f in files)}

    @staticmethod
    def model_times(span_list: list[spans.Span]) -> dict[str, float]:
        """Seconds per model: its outermost spans (builder and
        materialization)."""
        by_id = {s.id: s for s in span_list}
        out: dict[str, float] = {}
        for s in span_list:
            if not s.name.startswith("models."):
                continue
            parent = by_id.get(s.parent)
            if parent is not None and parent.name == s.name:
                continue
            key = f"{s.name}_s"
            out[key] = out.get(key, 0.0) + s.end - s.start
        return out

    def stored_bytes_per_row(self) -> float:
        rel = self.wl.fact_relation(self.spark, self.sf_dir)
        size = sum(os.path.getsize(local_path(u)) for u in rel.inputFiles())
        return size / rel.count()

    def rechunk_bytes(self) -> int:
        """Bytes of the catalog's re-chunked copies of the inputs."""
        from clickhouse_vs_dbt_spark import catalog

        total = 0
        for t in self.wl.tables:
            for uri in catalog.load_table(self.spark, self.sf_dir, t).inputFiles():
                path = local_path(uri)
                if not path.startswith(self.sf_dir):
                    total += os.path.getsize(path)
        return total

    # -- report ---------------------------------------------------------

    def result(self, stored: float, rechunk: int) -> dict:
        failed = len(self.failures)
        if self.tracer:
            metrics = self.layer_metrics(rechunk)
        else:
            metrics = {
                "setup_s": (statistics.median(s["s"] for s in self.setups), "s"),
                "op_mean_s": (statistics.fmean(o["s"] for o in self.ops), "s"),
                "stored_bytes_per_row": (stored, "B/row"),
                "pass_ratio": ((self.attempted - failed) / self.attempted, "ratio"),
            }
        self.write_out(metrics)
        for name, why in self.failures:
            print(f"FAILED {name}: {why}", file=sys.stderr)
        return {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, rechunk: int) -> dict[str, tuple[float, str]]:
        traced = [o for o in self.ops if o["traced"]]
        refreshes = [o["models"] for o in traced if o["op"] == workloads.REFRESH]
        # traced ops scaled to one round's worth of ops
        scale = len(self.wl.op_names) / len(traced)

        def per_round(key: str, field: str) -> float:
            return sum(o[field].get(key, 0.0) for o in traced) * scale

        def per_setup(key: str) -> float:
            return statistics.median(s["self"].get(key, 0.0) for s in self.setups)

        def median_of(key: str, recs: list[dict]) -> float:
            return statistics.median(r.get(key, 0.0) for r in recs) if recs else 0.0

        def op_median(op: str) -> float:
            got = [o["s"] for o in self.ops if o["op"] == op]
            return statistics.median(got) if got else 0.0

        values = {
            "session.start_s": per_setup("session"),
            "catalog.first_load_s": per_setup("catalog"),
            "catalog.rechunk_bytes": rechunk,
            "compat.register_s": per_setup("compat"),
            "dialect.transpile_s": per_round("dialect.transpile", "self"),
            "dialect.transpile_calls": per_round("dialect.transpile", "counts"),
            "dialect.resolver_s": per_round("dialect.resolver", "self"),
            "dialect.resolver_calls": per_round("dialect.resolver", "counts"),
            "catalyst.analysis_s": per_round("catalyst.analysis", "self"),
            "catalyst.optimization_s": per_round("catalyst.optimization", "self"),
            "catalyst.planning_s": per_round("catalyst.planning", "self"),
            "exec.run_s": per_round("exec", "self"),
            **{k: per_round(k, "counts") for k in (
                "exec.jobs", "exec.stages", "exec.tasks",
                "exec.shuffle_bytes", "exec.spill_bytes")},
            **{m: op_median(op) for m, op in zip(SSB_METRICS, workloads.SSB_OPS)},
            **{f"models.{m}_s": median_of(f"models.{m}_s", refreshes) for m in MODELS},
            "models.files_written": median_of("models.files_written", refreshes),
            "models.bytes_written": median_of("models.bytes_written", refreshes),
            "ops.unattributed_s": per_round("op", "self"),
            **{k: median_of(k, self.rounds) for k in (
                "jvm.cpu_s", "jvm.gc_s", "jvm.jit_s", "driver.cpu_s", "host.steal_s")},
            "jvm.peak_rss_mb": self.peak_mb["jvm"],
            "driver.peak_rss_mb": self.peak_mb["driver"],
            "trace.overhead_s": self.trace_overhead(),
        }
        return {name: (float(values[name]), unit) for name, unit in PER_LAYER}

    def trace_overhead(self) -> float:
        """Median over ops of the op's traced minus its untraced median
        time; each op is traced in every other timed round."""
        diffs = []
        for op in self.wl.op_names:
            times = {True: [], False: []}
            for o in self.ops:
                if o["op"] == op:
                    times[o["traced"]].append(o["s"])
            if times[True] and times[False]:
                diffs.append(statistics.median(times[True])
                             - statistics.median(times[False]))
        return statistics.median(diffs)

    def write_out(self, metrics: dict) -> None:
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        a = self.args
        doc = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "sf": self.wl.sf, "setups": self.setups,
            "phases_s": self.phases, "check_s": self.wl.check_s,
            "peak_rss_mb": self.peak_mb,
            "rounds": self.rounds, "ops": self.ops,
            "failures": self.failures,
            "metrics": {k: v for k, (v, _) in metrics.items()},
        }
        if self.tracer:
            doc["self_s"] = self.tracer.self_times()
            doc["spans"] = [vars(s) for s in self.tracer.spans]
        path = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)
        # noise attribution: what each timed round cost and what the host
        # and the JVM did meanwhile
        print("round   s      op_mean  steal_s  jit_s   gc_s   jvm_cpu_s",
              file=sys.stderr)
        for rec in self.rounds:
            mean = statistics.fmean(
                o["s"] for o in self.ops if o["round"] == rec["round"]
            )
            print(f"{rec['round']:5d} {rec['s']:7.3f} {mean:8.3f} "
                  f"{rec['host.steal_s']:8.2f} {rec['jvm.jit_s']:6.2f} "
                  f"{rec['jvm.gc_s']:6.2f} {rec['jvm.cpu_s']:8.2f}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # two task threads leave the other cores of a 4-vCPU host to the JIT
    # compiler, GC and the driver; under host steal, interleaved runs
    # with two had lower op times and less stolen CPU than with four
    cores = min(2, len(os.sched_getaffinity(0)))
    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    isolate(run_dir, cores)
    try:
        result = Bench(args, run_dir).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
