"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The end-to-end tests start Spark through the benchmark command (about a
minute each); the others need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import gen  # noqa: E402
import run as R  # noqa: E402

COUNT_FIELDS = ["exec.jobs", "exec.stages", "exec.tasks", "exec.exchanges",
                "exec.join_rows_out", "exec.result_rows"]


def bench(*args, cwd=ROOT) -> tuple[int, dict | None, str]:
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stderr


def _args(workload, seed=7, trace=0):
    return ["--workload", workload, "--seed", str(seed), "--seconds", "1",
            "--trace", str(trace)]


# -- no Spark -------------------------------------------------------------

def test_same_seed_same_inputs():
    a, b = gen.draws(3), gen.draws(3)
    assert a["andl"] == b["andl"]
    assert all((x == y).all() for x, y in zip(a["query_vectors"], b["query_vectors"]))
    assert (a["delete_ids"] == b["delete_ids"]).all()
    assert gen.draws(4)["andl"] != a["andl"]
    assert len(set(a["delete_ids"].ravel())) == a["delete_ids"].size


def test_compare_catches_changed_rows_and_values():
    want = pd.DataFrame({"k": ["a", "b"], "v": [1.0, 2.0]})
    assert check.compare(want.iloc[::-1], want) is None
    assert check.compare(want.iloc[1:], want) is not None
    assert check.compare(want.assign(v=[1.0, 2.5]), want) is not None
    assert check.compare(want.assign(k=["a", "c"]), want) is not None


def test_dedup_floors_score_planted_clusters():
    from tools.gen_sf import STRIDE

    originals = sorted(gen.doc_clusters())
    copies = [(d, d + k * STRIDE) for d in originals for k in range(1, gen.DOC_COPIES)]
    ok = pd.DataFrame(copies, columns=["id_a", "id_b"])
    assert check.dedup_pairs(0.9, 0.1)(ok) is None
    cluster = gen.doc_clusters()
    strangers = [(a, b) for a, b in zip(originals, originals[1:])
                 if cluster[a] != cluster[b]]
    wrong = pd.DataFrame(strangers, columns=["id_a", "id_b"])
    assert check.dedup_pairs(0.9, 0.0)(wrong) is not None


def _ann_case():
    import ops

    ids, vecs = gen.embeddings()
    live = ops.LiveSet(ids, vecs)
    qids = [ops.QUERY_ID0 + i for i in range(10)]
    qvecs = gen.draws(5)["query_vectors"][0]
    return live, qids, qvecs


def test_ann_exact_needs_k_results_per_query():
    live, qids, qvecs = _ann_case()
    unit = live.vecs / np.linalg.norm(live.vecs, axis=1, keepdims=True)
    pos = {int(i): j for j, i in enumerate(live.ids)}
    rows = []
    for q, v, w in zip(qids, qvecs, live.topk(qvecs.astype(float))):
        v = v / np.linalg.norm(v)
        rows += [(q, c, float(unit[pos[c]] @ v), r + 1) for r, c in enumerate(w)]
    got = pd.DataFrame(rows, columns=["query_id", "cand_id", "cosine", "rank"])
    assert check.ann_exact(live, qids, qvecs)(got) is None
    assert check.ann_exact(live, qids, qvecs)(got[got["rank"] < 5]) is not None


def test_ann_mirror_catches_a_changed_result():
    import ops
    from andl_spark.pipeline import simsearch as SS

    import duckdb

    live, qids, qvecs = _ann_case()

    def mirror(t, pred, k):
        return SS.topk_lsh_sql(t, query_pred=pred, k=k, bits=ops.LSH_BITS,
                               multiprobe=1, dim=64)
    table = pd.DataFrame({
        "vec_id": list(live.ids) + qids,
        "embedding": [v.astype("float32") for v in live.vecs] + list(qvecs)})
    con = duckdb.connect()
    con.register("ann_table", table)
    ref = con.execute(mirror("ann_table", f"vec_id >= {qids[0]}", 5 + 9)).df()
    ref = ref[~ref.cand_id.isin(qids)].sort_values(["query_id", "rank"])
    got = ref.groupby("query_id").head(5).copy()
    got["rank"] = got.groupby("query_id").cumcount() + 1
    assert check.ann_mirror(live, qids, qvecs, mirror)(got) is None
    assert check.ann_mirror(live, qids, qvecs, mirror)(got.iloc[1:]) is not None


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", *_args("queries")],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env)
    assert p.returncode != 0 and "{" not in p.stdout


def test_benchmark_json_matches_the_command():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(R.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == R.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"queries", "retrieval"}


# -- end to end -----------------------------------------------------------

@pytest.mark.parametrize("workload", ["queries", "retrieval"])
def test_every_metric_prints_with_its_unit(workload):
    rc, result, err = bench(*_args(workload))
    assert rc == 0, err[-3000:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: m["unit"] for k, m in result["metrics"].items()} == R.END_TO_END
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_corrupted_result_fails_the_run():
    rc, result, err = bench(*_args("queries"), "--corrupt", "q1_pricing_summary")
    assert rc != 0
    assert result["correct"] is False and result["failed"] >= 1
    assert "WRONG q1_pricing_summary" in err


def test_traced_counts_repeat_exactly():
    runs = [bench(*_args("queries", trace=1)) for _ in range(2)]
    for rc, result, err in runs:
        assert rc == 0, err[-3000:]
        assert {k: m["unit"] for k, m in result["metrics"].items()} == R.PER_LAYER
    a, b = (r[1]["metrics"] for r in runs)
    assert {k: a[k]["value"] for k in COUNT_FIELDS} == {k: b[k]["value"] for k in COUNT_FIELDS}
    assert a["exec.jobs"]["value"] > 0 and a["lang.run_jobs"]["value"] > 0
