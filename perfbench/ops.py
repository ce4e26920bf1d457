"""The two workloads: what one round runs, and how each result is checked.

A round is a fixed list of operations in a fixed order; the seed draws
their parameters (Andl constants, query vectors, write batches). Every
run measures the same mix, and the first operations after set-up, which
pay the JVM's remaining warm-up, are the same ones in every run.

Each operation returns the DataFrame the benchmark materialises through
the ``noop`` sink, or ``None`` for index writes, which materialise
themselves. Its ``check`` runs after the timed region.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

import gen

#: Relational, TPC-H, events and fixpoint entries of workload.QUERIES:
#: scans with aggregation, broadcast and shuffle joins, windows, the
#: as-of join, set operators, sessionisation and the eager fixpoint.
#: Entries whose plan shape repeats one of these do not fit the run
#: budget (see README.md).
RELATIONAL = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q10_returned_items", "q18_large_orders", "q_agg_fold", "q_topk_orders",
    "q_window_running", "q_asof_join", "q_setops", "q_events_session",
    "q_while_closure",
]
#: Corpus-curation stages: the single-task text scan and the production
#: (xxhash64) SimHash near-dup pass with its eager guard and checkpoint
#: jobs. The other curation stages do not fit the run budget (see
#: README.md).
CURATION = ["q_text_quality", "q_dedup_simhash_prod"]
#: SimHash pairs are scored against the planted clusters as (precision,
#: recall) floors. Hamming <= 3 misses short documents, whose " rev<k>"
#: suffix flips more bits; the seed commit measures 0.986 / 0.727 on
#: these fixed tables, and a broken hash or join falls far below both.
DEDUP_FLOORS = {"q_dedup_simhash_prod": (0.95, 0.65)}

# Andl programs over the bound relvars; {c} is the seeded constant.
ANDL = {
    "andl_where_fold": (
        "r := orders .where(o_totalprice > {c}) .select{{ o_orderpriority,"
        " n := fold(+,1), total := fold(+,o_totalprice) }}",
        "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total"
        " FROM orders WHERE o_totalprice > {c} GROUP BY 1"),
    "andl_join": (
        "r := ((customer .where(c_acctbal > {c}) .select{{ o_custkey := c_custkey,"
        " c_mktsegment }}) join orders) .select{{ c_mktsegment, o_orderpriority,"
        " n := fold(+,1) }}",
        "SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n FROM customer"
        " JOIN orders ON c_custkey = o_custkey WHERE c_acctbal > {c} GROUP BY 1, 2"),
    "andl_running": (
        "r := orders .where(o_custkey < {c}) .order(%o_custkey, o_orderkey)"
        " .select{{ o_custkey, o_orderkey, run := fold(+,o_totalprice) }}",
        "SELECT o_custkey, o_orderkey, SUM(o_totalprice) OVER (PARTITION BY"
        " o_custkey ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS run"
        " FROM orders WHERE o_custkey < {c}"),
    "andl_while": (
        "E := customer .where(c_custkey * 2 <= {m}) .select{{ src := c_custkey,"
        " node := c_custkey * 2 }}\n"
        "r := {{{{ node := {c} }}}} .while( {{{{ src := node }}}} compose E )",
        "WITH RECURSIVE reach(node) AS (SELECT {c} AS node UNION"
        " SELECT c_custkey * 2 FROM reach JOIN customer ON c_custkey = node"
        " WHERE c_custkey * 2 <= {m}) SELECT CAST(node AS DOUBLE) AS node FROM reach"),
}
_ANDL_KEYS = {"andl_where_fold": "where_fold", "andl_join": "join",
              "andl_running": "running", "andl_while": "while"}

K = 5
PROBES_PER_ROUND = 5
#: Parameters of the per-call operators, explicit so that their DuckDB
#: mirrors compute the same rows.
LSH_BITS, IVF_NLIST, IVF_NPROBE = 8, 16, 4
QUERY_ID0 = 1_000_000_000


@dataclass
class Op:
    name: str
    layer: str  # build span name: the module whose entry point it calls
    build: Callable[[], object]  # -> DataFrame, or None for a write
    check: Callable[[pd.DataFrame], str | None] | None = None
    key: str = ""  # results with equal keys are checked once per run


# ---------------------------------------------------------------------
# queries: Andl relational queries, Andl programs, corpus curation
# ---------------------------------------------------------------------

def andl_sources(d: dict) -> dict[str, tuple[str, str]]:
    m = gen.MAX_CUSTKEY
    return {name: (src.format(c=d["andl"][_ANDL_KEYS[name]], m=m),
                   sql.format(c=d["andl"][_ANDL_KEYS[name]], m=m))
            for name, (src, sql) in ANDL.items()}


def queries_round(ctx, d: dict) -> list[Op]:
    from andl_spark import workload as W

    import check

    ops = []
    for name in RELATIONAL + CURATION:
        # BENCH_EXTRA holds the production variant where both exist
        fn = W.BENCH_EXTRA.get(name) or W.QUERIES[name]
        layer = "pipeline.build" if name in CURATION else "operators.build"
        if name in DEDUP_FLOORS:
            chk = check.dedup_pairs(*DEDUP_FLOORS[name])
        else:
            chk = check.oracle(lambda sql=W.ORACLE[name]: ctx.duck.execute(sql).df())
        ops.append(Op(name, layer,
                      lambda fn=fn: fn(ctx.spark, ctx.data_dir), chk, key=name))
    for name, (src, sql) in andl_sources(d).items():
        ops.append(Op(name, "lang.run", lambda src=src: ctx.run_andl(src),
                      check.oracle(lambda sql=sql: ctx.duck.execute(sql).df()),
                      key=name))
    # Fixed order: the first operations after set-up pay the JVM's
    # remaining warm-up, so a seeded order would move that cost between
    # operations from run to run and widen the spread of the medians.
    return ops


# ---------------------------------------------------------------------
# retrieval: ANN probes with interleaved index writes
# ---------------------------------------------------------------------

class LiveSet:
    """The vectors the index should hold, for exact ground truth."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids, self.vecs = ids, vecs
        self.deleted: set[int] = set()

    def append(self, ids, vecs):
        self.ids = np.concatenate([self.ids, ids])
        self.vecs = np.concatenate([self.vecs, vecs])

    def delete(self, ids):
        keep = ~np.isin(self.ids, ids)
        self.ids, self.vecs = self.ids[keep], self.vecs[keep]
        self.deleted.update(int(i) for i in ids)

    def topk(self, q: np.ndarray, k: int = K) -> list[list[int]]:
        """Exact cosine top-k ids per query, ties by id (the operators' rule)."""
        sims = (q @ self.vecs.T) / (np.linalg.norm(q, axis=1)[:, None]
                                    * np.linalg.norm(self.vecs, axis=1)[None, :])
        out = []
        for row in sims:
            order = np.lexsort((self.ids, -row))[:k]
            out.append([int(i) for i in self.ids[order]])
        return out


def retrieval_round(ctx, d: dict, round_no: int) -> list[Op]:
    from andl_spark.pipeline import annindex as AX
    from andl_spark.pipeline import simsearch as SS

    import check

    base = ctx.base  # the corpus the per-call operators scan
    dim = base.vecs.shape[1]

    def batch(i):
        vecs = d["query_vectors"][(round_no * 16 + i) % len(d["query_vectors"])]
        # query ids lie outside the corpus: the operators skip a
        # candidate whose id equals the query's
        first = QUERY_ID0 + i * 100
        return list(range(first, first + len(vecs))), vecs

    def probe(i, also=None):
        ids, vecs = batch(i)
        return Op("topk_ivf_index", "annindex.probe_build",
                  lambda: AX.topk_ivf_index(ctx.spark, ctx.queries_df(ids, vecs),
                                            ctx.index_path, k=K),
                  check.all_of(check.ann_probe(ctx, ids, vecs), also))

    probes = [probe(i) for i in range(PROBES_PER_ROUND - 1)]
    # the probe after the compaction also checks the compacted index;
    # that check reads the snapshot, so it runs after the timed probe
    probes.append(probe(PROBES_PER_ROUND - 1, check.compacted(ctx)))
    ids, vecs = batch(PROBES_PER_ROUND)
    brute = Op("topk_bruteforce", "simsearch.build",
               lambda: SS.topk_bruteforce(ctx.base_df, ctx.queries_df(ids, vecs),
                                          k=K, dim=dim),
               check.ann_exact(base, ids, vecs))
    ids2, vecs2 = batch(PROBES_PER_ROUND + 1)
    lsh = Op("topk_lsh", "simsearch.build",
             lambda: SS.topk_lsh(ctx.base_df, ctx.queries_df(ids2, vecs2),
                                 k=K, bits=LSH_BITS, multiprobe=1, dim=dim),
             check.ann_mirror(base, ids2, vecs2, lambda t, pred, k: SS.topk_lsh_sql(
                 t, query_pred=pred, k=k, bits=LSH_BITS, multiprobe=1, dim=dim)))
    ids3, vecs3 = batch(PROBES_PER_ROUND + 2)
    ivf_det = Op("topk_ivf_det", "simsearch.build",
                 lambda: SS.topk_ivf_det(ctx.base_df, ctx.queries_df(ids3, vecs3),
                                         k=K, nlist=IVF_NLIST, nprobe=IVF_NPROBE),
                 check.ann_mirror(base, ids3, vecs3, lambda t, pred, k: SS.topk_ivf_det_sql(
                     t, query_pred=pred, k=k, nlist=IVF_NLIST, nprobe=IVF_NPROBE)))
    compact = Op("compact_ivf_index", "annindex.compact",
                 lambda: AX.compact_ivf_index(ctx.spark, ctx.index_path))
    # The first probe after each write pays for the invalidated caches.
    return [probes[0], brute, ctx.append_op(round_no), probes[1], lsh,
            ctx.delete_op(round_no), probes[2], ivf_det, probes[3], compact,
            probes[4]]
