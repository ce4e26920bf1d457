"""andl_spark benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs, scratch space and traces live
under ``.perfbench/`` there. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The exit status is 0 only when every operation ran and
every result matched its oracle.

Workloads (closed loop, one client, no think time, ``local[4]``):

* ``queries`` — relational, TPC-H, events and fixpoint entries of
  ``workload.QUERIES``, four Andl programs run through
  ``AndlSession.run``, and two corpus-curation stages.
* ``retrieval`` — seeded 10-vector top-5 batches through the persisted
  IVF index and the per-call ``simsearch`` operators, with index
  appends and deletes interleaved and a compaction every round.

Set-up is repeated ``SETUP_REPS`` times (the first starts the JVM,
later ones open a new session on it) and ``setup_s`` is the median.
The measurement then runs ``--seconds`` / ``ROUND_S[workload]`` whole
rounds (at least one). A traced run sets up once and runs four rounds:
a warm-up, then untraced, traced, untraced.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
#: Operation time of one round at the seed commit on 4 vCPUs, about.
#: A run's round count follows from ``--seconds`` and this, not from a
#: clock: stopping at a measured time flipped retrieval runs between
#: one and two rounds when a round took close to ``--seconds``.
ROUND_S = {"queries": 10.0, "retrieval": 5.0}

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_gmean_ms": "ms",
    "ops_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s", "session.load_tables_s": "s", "annindex.build_s": "s",
    "lang.parse_s": "s", "lang.run_s": "s", "lang.run_jobs": "count",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "pipeline.build_s": "s", "pipeline.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.failed_tasks": "count",
    "exec.single_task_stages": "count", "exec.python_rows": "rows",
    "exec.shuffle_bytes": "bytes", "exec.scan_bytes": "bytes",
    "exec.join_rows_out": "rows", "exec.result_rows": "rows",
    "exec.result_per_join_row": "ratio",
    "exec.exchanges": "count", "exec.broadcasts": "count",
    "simsearch.build_s": "s", "annindex.probe_build_s": "s",
    "annindex.scan_bytes_per_probe": "bytes",
    "annindex.write_s": "s", "annindex.compact_s": "s",
    "annindex.bytes_written_per_user_byte": "ratio",
    "mem.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}
VEC_BYTES = 8 + 4 * 64  # one appended (vec_id, float32[64]) row
ID_BYTES = 8  # one deleted vec_id


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _environment(tmp: str) -> None:
    """Everything Spark and its Python workers need, before the JVM starts."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["ANDL_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={tmp}/warehouse",
        # hsperfdata would go to /tmp whatever java.io.tmpdir says
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell",
    ])


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Ctx:
    """What one run's operations share: session, tables, index state."""

    def __init__(self, workload: str, data_dir: str, tmp: str, draws: dict):
        self.workload, self.data_dir, self.tmp, self.d = workload, data_dir, tmp, draws
        self.spark = self.tabs = self.andl = self.tracer = None
        self.index_path = ""
        self.batch_id = 0
        self.recall_hits = self.recall_total = 0
        self.write_bytes = self.user_bytes = 0
        if workload == "retrieval":
            import gen
            from ops import LiveSet

            self.base = LiveSet(*gen.embeddings())

    @property
    def duck(self):
        if not hasattr(self, "_duck"):
            import check

            self._duck = check.duck(self.data_dir)
        return self._duck

    # -- set-up phases -------------------------------------------------------
    def start_session(self) -> None:
        if self.spark is None:
            from andl_spark.session import get_spark

            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        else:
            self.spark = self.spark.newSession()

    def load_tables(self) -> None:
        from andl_spark.session import load_tables

        self.tabs = load_tables(self.spark, self.data_dir, register_views=False)
        if self.workload == "queries":
            from andl_spark.lang.interp import AndlSession, RelV
            from andl_spark.relation import Relation

            self.tabs.load_all()
            self.andl = AndlSession(self.spark)
            for name in ("orders", "customer"):
                self.andl.globals[name] = RelV(Relation(self.tabs[name]))
        else:
            self.base_df = self.tabs["embeddings"]

    def build_index(self, rep: int) -> None:
        from andl_spark.pipeline import annindex as AX

        from ops import LiveSet

        self.index_path = os.path.join(self.tmp, f"ivf{rep}")
        self.meta = AX.build_ivf_index(self.base_df, self.index_path, calibrate=0.9)
        self.live = LiveSet(self.base.ids.copy(), self.base.vecs.copy())

    def warm_up(self) -> None:
        from andl_spark import workload as W

        if self.workload == "queries":
            _noop(W.QUERIES["q1_pricing_summary"](self.spark, self.data_dir))
        else:
            from andl_spark.pipeline import annindex as AX

            vecs = self.d["query_vectors"][-1]
            _noop(AX.topk_ivf_index(self.spark, self.queries_df(range(len(vecs)), vecs),
                                    self.index_path, k=5))

    # -- operation helpers ---------------------------------------------------
    def run_andl(self, src: str):
        self.andl.run(src)
        return self.andl.globals["r"].df

    def queries_df(self, ids, vecs):
        return self.spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
            "vec_id long, embedding array<float>")

    def append_op(self, n: int):
        import numpy as np

        from andl_spark.pipeline import annindex as AX

        from ops import Op

        vecs = self.d["append_vectors"][n % len(self.d["append_vectors"])]
        ids = np.arange(len(vecs), dtype=np.int64) + 1_000_000 + 100 * n

        def build():
            self.batch_id += 1
            AX.ivf_index_append(self.queries_df(ids, vecs), self.index_path,
                                batch_id=self.batch_id)
            self.live.append(ids, vecs.astype(np.float64))
            if self.tracer is not None:  # bytes written are traced only
                self.user_bytes += len(ids) * VEC_BYTES
        return Op("ivf_index_append", "annindex.write", build)

    def delete_op(self, n: int):
        from andl_spark.pipeline import annindex as AX

        from ops import Op

        ids = [int(i) for i in self.d["delete_ids"][n % len(self.d["delete_ids"])]]

        def build():
            self.batch_id += 1
            AX.ivf_index_delete(ids, self.index_path, batch_id=self.batch_id,
                                spark=self.spark)
            self.live.delete(ids)
            if self.tracer is not None:  # bytes written are traced only
                self.user_bytes += len(ids) * ID_BYTES
        return Op("ivf_index_delete", "annindex.write", build)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_state(path: str) -> dict:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    return sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))


def setup(ctx: Ctx, rep: int, phases: dict) -> float:
    """One set-up; returns its wall time and adds each phase's to ``phases``."""
    steps = [("session.start_s", ctx.start_session),
             ("session.load_tables_s", ctx.load_tables)]
    if ctx.workload == "retrieval":
        steps.append(("annindex.build_s", lambda: ctx.build_index(rep)))
    steps.append(("setup.warmup_s", ctx.warm_up))
    total = 0.0
    for name, fn in steps:
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        phases[name] = phases.get(name, 0.0) + dt
        total += dt
    return total


def run_op(ctx: Ctx, op, stats: dict, corrupt: str | None) -> None:
    """Time one operation (build + full materialisation), then check it."""
    from contextlib import nullcontext

    tr = ctx.tracer
    stats["attempted"] += 1
    writes = tr is not None and op.layer in ("annindex.write", "annindex.compact")
    written0 = _dir_state(ctx.index_path) if writes else None
    t0 = time.perf_counter()
    try:
        with tr.op(op.name, op.layer) if tr else nullcontext() as root:
            with tr.span(op.layer, op=op.name) if tr else nullcontext():
                df = op.build()
            with tr.span("exec.action", op=op.name) if tr else nullcontext():
                if df is not None:
                    _noop(df)
    except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
        stats["failed"] += 1
        log(f"FAILED {op.name}:\n{traceback.format_exc()}")
        return
    lat = time.perf_counter() - t0
    stats["latencies"].append(lat)
    log(f"op {op.name} {lat:.3f} s")
    if written0 is not None:
        ctx.write_bytes += _written(written0, _dir_state(ctx.index_path))
    if op.check is None or (op.key and op.key in stats["checked"]):
        return
    stats["checked"].add(op.key)
    t1 = time.perf_counter()
    try:
        got = None if df is None else df.toPandas()
        if op.name == corrupt and got is not None and len(got):
            got = got.iloc[1:]
        if root is not None and got is not None:
            root["result_rows"] = len(got)
        err = op.check(got)
    except Exception:  # noqa: BLE001
        err = traceback.format_exc()
    log(f"check {op.name} {time.perf_counter() - t1:.3f} s")
    if err:
        stats["failed"] += 1
        log(f"WRONG {op.name}: {err}")


def layer_metrics(ctx: Ctx, tr, phases: dict, overhead_s: float) -> dict:
    m = dict.fromkeys(PER_LAYER, 0.0)
    for k in ("session.start_s", "session.load_tables_s", "annindex.build_s"):
        m[k] = phases.get(k, 0.0)
    n_probe = 0
    for span in tr.spans:
        name, dur = span["name"], span["end"] - span["start"]
        if name == "op":
            continue
        key = {"lang.parse": "lang.parse_s", "lang.run": "lang.run_s",
               "operators.build": "operators.build_s",
               "pipeline.build": "pipeline.build_s", "simsearch.build": "simsearch.build_s",
               "annindex.probe_build": "annindex.probe_build_s",
               "annindex.write": "annindex.write_s", "annindex.compact": "annindex.compact_s",
               "exec.action": "exec.action_s"}[name]
        m[key] += dur
        jobs = {"lang.run": "lang.run_jobs", "operators.build": "operators.build_jobs",
                "pipeline.build": "pipeline.build_jobs"}.get(name)
        if jobs:
            m[jobs] += span.get("jobs", 0)
    probe_scan = 0
    for op in tr.ops:
        ex, pl = op.get("exec", {}), op.get("plans", {})
        for k in ("jobs", "stages", "tasks", "failed_tasks", "single_task_stages"):
            m[f"exec.{k}"] += ex.get(k, 0)
        for k in ("python_rows", "shuffle_bytes", "scan_bytes", "join_rows_out",
                  "exchanges", "broadcasts"):
            m[f"exec.{k}"] += pl.get(k, 0)
        for p in ("analysis", "optimization", "planning"):
            m[f"catalyst.{p}_s"] += pl.get(f"{p}_ms", 0) / 1000.0
        m["exec.result_rows"] += op.get("result_rows", 0)
        if op["layer"] == "annindex.probe_build":
            n_probe += 1
            probe_scan += pl.get("scan_bytes", 0)
    if m["exec.join_rows_out"]:
        m["exec.result_per_join_row"] = m["exec.result_rows"] / m["exec.join_rows_out"]
    if n_probe:
        m["annindex.scan_bytes_per_probe"] = probe_scan / n_probe
    if ctx.user_bytes:
        m["annindex.bytes_written_per_user_byte"] = ctx.write_bytes / ctx.user_bytes
    m["trace.overhead_s"] = overhead_s
    return m


@contextmanager
def traced_parse(tr):
    """Put a ``lang.parse`` span around every parse ``AndlSession.run``
    makes, by wrapping the parser the interpreter calls."""
    from andl_spark.lang import interp

    parse = interp.parse

    def spanned(src):
        with tr.span("lang.parse", op=tr.current_op):
            return parse(src)
    interp.parse = spanned
    try:
        yield
    finally:
        interp.parse = parse


def run_round(ctx: Ctx, n: int, stats: dict, corrupt: str | None) -> float:
    """Run round ``n``; returns its operation time."""
    import ops as O

    if ctx.workload == "queries":
        round_ops = O.queries_round(ctx, ctx.d)
    else:
        round_ops = O.retrieval_round(ctx, ctx.d, n)
    before = len(stats["latencies"])
    for op in round_ops:
        run_op(ctx, op, stats, corrupt)
    return sum(stats["latencies"][before:])


def run(args) -> dict:
    import gen

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    _environment(tmp)
    data_dir, manifest = gen.write_tables(os.path.join(WORK, "data"))
    d = gen.draws(args.seed)
    log(f"inputs: {data_dir} rows={manifest['rows']} bytes={sum(manifest['bytes'].values())} "
        f"sha256={manifest['sha256']} seed={args.seed}")
    ctx = Ctx(args.workload, data_dir, tmp, d)
    phases: dict = {}
    stats = {"attempted": 0, "failed": 0, "latencies": [], "checked": set()}
    try:
        reps = 1 if args.trace else SETUP_REPS
        setups = [setup(ctx, rep, phases) for rep in range(reps)]
        log(f"set-up {' '.join(f'{s:.3f}' for s in setups)} s; phases {phases}")
        if args.trace:
            # Tracing overhead is traced minus untraced operation time of
            # the same round. A first round warms the JVM up; then the
            # traced round sits between two untraced ones, whose mean
            # cancels the drift that remains. Every round checks every
            # result, so the rounds stay alike and the traced one counts
            # its result rows.
            from spans import Tracer

            walls = []
            for n in range(4):
                stats["checked"].clear()
                if n == 2:
                    tr = ctx.tracer = Tracer(ctx.spark, args.workload)
                    with traced_parse(tr):
                        walls.append(run_round(ctx, n, stats, args.corrupt))
                    tr.close()
                    ctx.tracer = None
                else:
                    walls.append(run_round(ctx, n, stats, args.corrupt))
            rounds = len(walls)
            log("round operation time " + ", ".join(
                f"{w:.3f} s" + (" (traced)" if n == 2 else "") for n, w in enumerate(walls)))
        else:
            rounds = max(1, round(args.seconds / ROUND_S[args.workload]))
            for n in range(rounds):
                run_round(ctx, n, stats, args.corrupt)
        if ctx.recall_total:
            # The target is a holdout estimate; the run samples only
            # recall_total neighbours, so it fails when recall sits more
            # than three binomial standard deviations below the target.
            recall = ctx.recall_hits / ctx.recall_total
            target = ctx.meta["calibration"]["target"]
            floor = target - 3 * (target * (1 - target) / ctx.recall_total) ** 0.5
            log(f"index recall@5 {recall:.4f} over {ctx.recall_total} neighbours "
                f"(target {target}, floor {floor:.4f})")
            if recall < floor:
                stats["failed"] += 1
                log(f"WRONG recall@5 {recall:.4f} below {floor:.4f}")
        lat = stats["latencies"]
        log(f"{rounds} round(s), {len(lat)} ops, {sum(lat):.2f} s of operation time")
        if args.trace:
            per_layer = layer_metrics(ctx, tr, phases,
                                      walls[2] - (walls[1] + walls[3]) / 2)
            per_layer["mem.peak_rss_mb"] = (
                _hwm_mb("self") + _hwm_mb(ctx.spark.sparkContext._gateway.proc.pid))
            metrics = {k: (per_layer[k], u) for k, u in PER_LAYER.items()}
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            out = os.path.join(WORK, "traces",
                               f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
            tr.dump(out, {"seed": args.seed, "inputs": manifest,
                          "round_s": walls, "per_layer": per_layer})
            log(f"trace written to {out}")
        else:
            metrics = {
                "setup_s": (statistics.median(setups), "s"),
                "op_gmean_ms": (1000.0 * statistics.geometric_mean(lat) if lat else 0.0, "ms"),
                "ops_per_s": (len(lat) / sum(lat) if lat else 0.0, "1/s"),
            }
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "correct": stats["failed"] == 0,
        "attempted": stats["attempted"],
        "failed": stats["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    sc = spark.sparkContext
    proc = sc._gateway.proc
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["queries", "retrieval"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--corrupt", metavar="OP",
                   help="drop one row of OP's result before its check "
                        "(proves the gate fails the run)")
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import andl_spark  # noqa: F401
    except ImportError as e:
        log(f"andl_spark is not importable from {ROOT}: {e}")
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
