"""Correctness gate. Every check takes the op's result, collected to
pandas after the timed region, and returns an error string, or
``None`` when the result is right.

* Relational, curation and Andl results are compared with a DuckDB
  oracle over the same parquet files.
* Near-dup dedup pairs are scored against the planted clusters.
* ANN results are compared with exact numpy cosine top-k, or with the
  operator's DuckDB mirror.
* The compacted index is compared with the live set.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

import gen


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive equality; numbers within a relative 1e-9."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = want[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        x, y = a[c], b[c]
        if not (x.isna() == y.isna()).all():
            return f"nulls differ in {c}"
        if pd.api.types.is_numeric_dtype(x) and pd.api.types.is_numeric_dtype(y):
            x, y = x.astype(float), y.astype(float)
            tol = 1e-9 * (1 + np.maximum(x.abs(), y.abs()).fillna(0))
            if not ((x - y).abs().fillna(0) <= tol).all():
                return f"values differ in {c}"
        elif not (x.astype(str).values == y.astype(str).values).all():
            return f"values differ in {c}"
    return None


def duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        name = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{name}.parquet')")
    return con


def oracle(want):
    """``want()`` runs the oracle and returns its frame."""
    def run(got: pd.DataFrame) -> str | None:
        return compare(got, want())
    return run


def dedup_pairs(precision_floor: float, recall_floor: float):
    """Pairs (id_a, id_b) against the planted clusters: a pair is true
    when both ids are copies (``id % STRIDE``) of originals in one
    cluster."""
    from collections import Counter

    from tools.gen_sf import STRIDE

    cluster = gen.doc_clusters()
    n_true = sum(n * gen.DOC_COPIES * (n * gen.DOC_COPIES - 1) // 2
                 for n in Counter(cluster.values()).values())

    def run(got: pd.DataFrame) -> str | None:
        pairs = got[["id_a", "id_b"]].to_numpy()
        found = {(min(a, b), max(a, b)) for a, b in pairs}
        true = sum(1 for a, b in found
                   if cluster[a % STRIDE] == cluster[b % STRIDE])
        precision = true / len(found) if found else 0.0
        recall = true / n_true
        print(f"dedup precision {precision:.4f} recall {recall:.4f}",
              file=sys.stderr)
        if precision < precision_floor or recall < recall_floor:
            return (f"precision {precision:.3f} (floor {precision_floor}), "
                    f"recall {recall:.3f} (floor {recall_floor})")
        return None
    return run


def _ranked(got: pd.DataFrame) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list[tuple[int, float]]] = {}
    for r in got.sort_values(["query_id", "rank"]).itertuples():
        out.setdefault(int(r.query_id), []).append((int(r.cand_id), float(r.cosine)))
    return out


def _cosines(live, q: np.ndarray, cand: list[int]) -> np.ndarray:
    pos = {int(i): j for j, i in enumerate(live.ids)}
    v = live.vecs[[pos[c] for c in cand]]
    return (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))


def _valid(live, ids, vecs, ranked, k, exact_k: bool = True) -> str | None:
    """Exactly k results per query (at most k unless ``exact_k``), every
    returned id is live, its cosine is right, ranks are sorted."""
    alive = set(int(i) for i in live.ids)
    for qid, q in zip(ids, vecs):
        got = ranked.setdefault(qid, [])
        if len(got) > k or (exact_k and len(got) != k):
            return f"query {qid}: {len(got)} results, not {k}"
        cand = [c for c, _ in got]
        if not set(cand) <= alive:
            return f"query {qid}: returned dead ids {sorted(set(cand) - alive)}"
        cos = np.array([c for _, c in got])
        if not np.allclose(cos, _cosines(live, q, cand), atol=1e-4):
            return f"query {qid}: wrong cosine"
        if (np.diff(cos) > 1e-6).any():
            return f"query {qid}: ranks out of order"
    return None


def ann_mirror(live, ids, vecs, mirror, k: int = 5):
    """A per-call ANN operator must return exactly the rows of its
    DuckDB mirror (``simsearch.topk_lsh_sql`` / ``topk_ivf_det_sql``,
    passed as ``mirror(table, query_pred, k)``). The mirrors take their
    queries from the scanned table, so the table holds the corpus and
    the queries, the mirror ranks k + len(ids) - 1 candidates, and the
    other queries are dropped from its answer before the top k."""
    def run(got: pd.DataFrame) -> str | None:
        import duckdb

        ranked = _ranked(got)
        # a probe may find fewer than k candidates; the mirror says how many
        err = _valid(live, ids, vecs, ranked, k, exact_k=False)
        if err:
            return err
        table = pd.DataFrame({
            "vec_id": np.concatenate([live.ids, ids]).astype(np.int64),
            "embedding": [v.astype(np.float32) for v in live.vecs] + list(vecs)})
        con = duckdb.connect()
        con.register("ann_table", table)
        want = con.execute(mirror("ann_table", f"vec_id >= {min(ids)}",
                                  k + len(ids) - 1)).df()
        want = want[~want.cand_id.isin(ids)].sort_values(["query_id", "rank"])
        for qid in ids:
            w = want.cand_id[want.query_id == qid].tolist()[:k]
            g = [c for c, _ in ranked[qid]]
            if g != w:
                return f"query {qid}: {g} != mirror {w}"
        return None
    return run


def ann_exact(live, ids, vecs, k: int = 5):
    """Brute force must return exactly the numpy top-k."""
    def run(got: pd.DataFrame) -> str | None:
        ranked = _ranked(got)
        err = _valid(live, ids, vecs, ranked, k)
        if err:
            return err
        want = live.topk(np.asarray(vecs), k)
        for qid, w in zip(ids, want):
            if [c for c, _ in ranked[qid]] != w:
                return f"query {qid}: {[c for c, _ in ranked[qid]]} != {w}"
        return None
    return run


def ann_probe(ctx, ids, vecs, k: int = 5):
    """An index probe must be valid against the live set; its hits
    against exact top-k add to the run's recall, gated at the end."""
    def run(got: pd.DataFrame) -> str | None:
        ranked = _ranked(got)
        err = _valid(ctx.live, ids, vecs, ranked, k)
        if err:
            return err
        want = ctx.live.topk(np.asarray(vecs), k)
        for qid, w in zip(ids, want):
            ctx.recall_hits += len(set(c for c, _ in ranked[qid]) & set(w))
            ctx.recall_total += len(w)
        return None
    return run


def compacted(ctx):
    """The compacted index stores exactly the live ids: no deleted id
    kept, no live id lost. Reads the current snapshot, ignores ``got``."""
    def run(got) -> str | None:
        from andl_spark.pipeline import annindex as AX

        _, data = AX.read_ivf_snapshot(ctx.spark, ctx.index_path)
        rows = data.select("vec_id", "list_id").toPandas()
        stored = set(rows.vec_id[rows.list_id != AX.TOMBSTONE_LIST].astype(int))
        live = set(int(i) for i in ctx.live.ids)
        if stored != live:
            return (f"compacted index keeps {len(stored - live)} dead ids, "
                    f"lost {len(live - stored)} live ids")
        return None
    return run


def all_of(*checks):
    """Run each check in turn; the first error wins."""
    def run(got) -> str | None:
        for c in checks:
            err = c(got) if c else None
            if err:
                return err
        return None
    return run
