"""Alternated same-session tree-vs-tree A/B (the REPRO.md protocol).

Single-shot suites taken hours apart measure which run hit a container
noise burst, not which tree is faster. This tool answers the tree
question directly: it imports TWO checkouts' `andl_spark` packages in
one process, builds ONE SparkSession, and alternates timed invocations
per query so a burst degrades both trees equally. The order flips on
every rep (A,B then B,A), so neither tree always runs on the state the
other one warmed, and every query runs once per tree untimed first.

Usage:
  git worktree add --detach /tmp/ab_old <old_ref>
  python tools/ab_trees.py /tmp/ab_old [new_tree=repo root] \
      [--queries q1,q2,...] [--reps N] [--out ABTREES_rN.json]

Timing methodology matches bench.py: wall-clock around build + count()
per invocation. The one session is built by the NEW tree's get_spark,
so the old tree is measured under the new tree's confs: both trees'
session confs are printed and recorded in the output
(``old_confs``/``new_confs``), and any difference is flagged on stderr.
Reported per query: every raw sample, median and MIN per side, and the
old/new ratio on the mins (the burst-robust estimator, REPRO.md). The result is printed (and written with --out)
either way; the exit status is 1 when any query's row count differs
between the trees (ROWCOUNT_MISMATCH).

Import isolation: each tree's `andl_spark.*` modules are imported once
under that tree's sys.path and then *removed* from sys.modules; at
call time the invoking tree's module dict is re-installed so any
late/package-relative import inside operator code resolves to the
right tree. Both trees share the one SparkSession/JVM.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def _snapshot() -> dict:
    return {k: v for k, v in list(sys.modules.items())
            if k.split(".")[0] == "andl_spark"}


def _clear() -> None:
    for k in list(sys.modules):
        if k.split(".")[0] == "andl_spark":
            del sys.modules[k]


class _ConfRecorder:
    """Stands in for ``SparkSession.builder``: records what a tree's
    get_spark would set, without starting a session."""

    def __init__(self):
        self.confs: dict[str, str] = {}

    @property
    def builder(self):
        return self

    def master(self, master):
        self.confs["spark.master"] = master
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.confs[key] = str(value)
        return self

    def getOrCreate(self):
        return self


def _session_confs(session_mod) -> dict[str, str]:
    """The confs ``session_mod.get_spark`` sets (see _ConfRecorder)."""
    rec = _ConfRecorder()
    real = session_mod.SparkSession
    session_mod.SparkSession = rec
    try:
        session_mod.get_spark("andl_spark-abtrees")
    finally:
        session_mod.SparkSession = real
    return dict(sorted(rec.confs.items()))


class Tree:
    """One checkout's workload, importable side by side with another."""

    def __init__(self, path: str, tag: str):
        self.path = os.path.abspath(path)
        self.tag = tag
        saved = _snapshot()
        _clear()
        sys.path.insert(0, self.path)
        try:
            import andl_spark.workload  # noqa: F401
            self.mods = _snapshot()
            self.workload = sys.modules["andl_spark.workload"]
            self.session = sys.modules["andl_spark.session"]
        finally:
            sys.path.remove(self.path)
            _clear()
            sys.modules.update(saved)
        self.confs = _session_confs(self.session)
        wl = self.workload
        self.queries = dict(getattr(wl, "QUERIES", {}))
        self.queries.update(getattr(wl, "BENCH_EXTRA", {}))

    def run(self, name: str, spark, sf_dir: str) -> tuple[float, int]:
        """Timed build+count of one query under this tree's modules."""
        fn = self.queries[name]
        saved = _snapshot()
        _clear()
        sys.modules.update(self.mods)
        try:
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()
            return round(time.perf_counter() - t0, 3), n
        finally:
            _clear()
            sys.modules.update(saved)


def main() -> None:
    args = sys.argv[1:]
    if not args:
        raise SystemExit(__doc__)
    old_path = args[0]
    new_path = args[1] if len(args) > 1 and not args[1].startswith("--") else (
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    def _opt(flag: str, default: str | None) -> str | None:
        return args[args.index(flag) + 1] if flag in args else default

    reps = int(_opt("--reps", "3"))
    out_path = _opt("--out", None)
    only = _opt("--queries", None)

    old = Tree(old_path, "old")
    new = Tree(new_path, "new")

    for tree in (old, new):
        print(f"# {tree.tag} session confs: {json.dumps(tree.confs)}",
              file=sys.stderr)
    conf_diff = sorted(k for k in old.confs.keys() | new.confs.keys()
                       if old.confs.get(k) != new.confs.get(k))
    if conf_diff:
        print(f"# WARNING: session confs differ ({', '.join(conf_diff)}); "
              f"both trees run under the new tree's", file=sys.stderr)
    # One session, built by the NEW tree's factory (env-driven master,
    # same confs bench.py uses); both trees' queries run on it.
    spark = new.session.get_spark("andl_spark-abtrees")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    if only:
        names = [q.strip() for q in only.split(",")]
    else:
        names = [n for n in new.queries
                 if n in old.queries and n != "q_recall_gauges"]
    missing = [n for n in names if n not in old.queries or n not in new.queries]
    if missing:
        raise SystemExit(f"not in both trees: {missing}")

    # Warm-up outside timing: every query once per tree (JVM, parquet
    # footers, per-table handles), so no rep-1 sample pays cold costs.
    for name in names:
        for tree in (old, new):
            tree.run(name, spark, sf_dir)

    samples: dict[str, dict[str, list[float]]] = {
        n: {"old": [], "new": []} for n in names}
    rows_seen: dict[str, dict[str, int]] = {n: {} for n in names}
    for rep in range(reps):
        # alternate per query, flipping which tree goes first each rep
        order = (old, new) if rep % 2 == 0 else (new, old)
        for name in names:
            for tree in order:
                sec, nrows = tree.run(name, spark, sf_dir)
                samples[name][tree.tag].append(sec)
                rows_seen[name][tree.tag] = nrows
            print(f"# rep {rep + 1} {name}: old={samples[name]['old'][-1]}s "
                  f"new={samples[name]['new'][-1]}s", file=sys.stderr)

    result = {
        "protocol": "alternated same-session tree A/B (REPRO.md)",
        "old_tree": old.path,
        "new_tree": new.path,
        "sf_dir": sf_dir,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "reps": reps,
        "old_confs": old.confs,
        "new_confs": new.confs,
        "conf_diff": conf_diff,
        "queries": {},
    }
    tot_old = tot_new = 0.0
    for name in names:
        o, nw = samples[name]["old"], samples[name]["new"]
        q = {
            "old_runs": o, "new_runs": nw,
            "old_median": round(statistics.median(o), 3),
            "new_median": round(statistics.median(nw), 3),
            "old_min": round(min(o), 3), "new_min": round(min(nw), 3),
            "speedup_min": round(min(o) / min(nw), 3) if min(nw) else None,
            "rows": rows_seen[name],
        }
        if rows_seen[name].get("old") != rows_seen[name].get("new"):
            q["ROWCOUNT_MISMATCH"] = True
        tot_old += min(o)
        tot_new += min(nw)
        result["queries"][name] = q
    result["total_old_min"] = round(tot_old, 3)
    result["total_new_min"] = round(tot_new, 3)
    result["total_speedup_min"] = round(tot_old / tot_new, 3) if tot_new else None

    text = json.dumps(result, indent=1)
    if out_path:
        with open(out_path, "w") as f:
            f.write(text + "\n")
        print(f"wrote {out_path}", file=sys.stderr)
    print(text)
    mismatched = [n for n, q in result["queries"].items()
                  if q.get("ROWCOUNT_MISMATCH")]
    if mismatched:
        raise SystemExit(f"ROWCOUNT_MISMATCH: the trees return different "
                         f"row counts for {', '.join(mismatched)}")


if __name__ == "__main__":
    main()
