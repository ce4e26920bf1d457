"""Seeded inputs for the benchmark.

Two kinds of input:

* **Tables** (``write_tables``): the sf0.01 tables of the repository's
  deterministic test data set (generator seed 42: the TPC-H star
  schema, the ``events`` stream, the ``documents`` corpus and the
  ``embeddings`` corpus), kept under ``perfbench/data/sf0.01`` because
  a run may read only its own checkout. The run's data directory is
  derived from them once per checkout: every table is copied as it is,
  except ``documents``, which ``tools/gen_sf.scale_table`` scales
  ``DOC_COPIES`` times. The copies get a ``" rev<k>"`` suffix, so each
  original document and its copies (``doc_id % STRIDE``) form one
  planted near-duplicate cluster, merged with the clusters of the
  near-duplicate originals the corpus already holds (``doc_clusters``);
  the dedup checks score precision and recall against those clusters. The embeddings are used as they are:
  ``scale_table`` copies differ from their original in one coordinate
  by 0.001, so every top-5 would be a run of copies and recall would
  say nothing about the index.
* **Workload draws** (``draws``): everything ``--seed`` decides — the
  Andl predicate constants, the ANN query batches, and the append and
  delete batches. Query and append vectors are seeded corpus vectors
  with Gaussian noise, so they follow the corpus' distribution.

The derivation runs Spark in a child process (``python3 gen.py DST``),
so the benchmark's own set-up still starts the JVM.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(HERE, "data", "sf0.01")
GEN_SF = os.path.join(ROOT, "tools", "gen_sf.py")

DOC_COPIES = 4
#: Largest c_custkey of the sf0.01 customer table; the Andl ``.while``
#: follows edges c -> 2c while 2c stays within it.
MAX_CUSTKEY = 1_499
#: Per-coordinate noise of a query or appended vector, before it is
#: normalised: its cosine to the corpus vector it came from is about 0.9.
NOISE = 0.5 / 8.0
QUERY_BATCHES, APPEND_BATCHES, DELETE_BATCHES = 64, 16, 16
QUERY_ROWS, APPEND_ROWS, DELETE_ROWS = 10, 50, 20


def _key() -> str:
    """Identity of the derived tables: the source files and the code
    that derives them."""
    h = hashlib.sha256()
    for f in sorted(os.listdir(SRC)):
        with open(os.path.join(SRC, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    for path in (os.path.abspath(__file__), GEN_SF):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def derive(dst: str) -> None:
    """Write the derived tables to ``dst`` (runs Spark; see ``main``)."""
    sys.path.insert(0, ROOT)
    from andl_spark.session import get_spark
    from tools.gen_sf import scale_table

    from run import stop_spark

    os.makedirs(dst)
    for f in os.listdir(SRC):
        if f != "documents.parquet":
            shutil.copyfile(os.path.join(SRC, f), os.path.join(dst, f))
    spark = get_spark("perfbench-gen")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
        out = os.path.join(dst, "documents.tmp")
        # one file, like the driver's layout
        (scale_table(docs, "documents", DOC_COPIES).repartition(1)
         .sortWithinPartitions("doc_id").write.parquet(out))
        part, = [f for f in os.listdir(out) if f.endswith(".parquet")]
        os.rename(os.path.join(out, part), os.path.join(dst, "documents.parquet"))
        shutil.rmtree(out)
    finally:
        stop_spark(spark)


def write_tables(root: str) -> tuple[str, dict]:
    """Derive the tables under ``root`` once per source identity and
    return the data directory with its manifest: rows per table, bytes
    per file and a content fingerprint. Spark's environment must be set
    already (the child inherits it)."""
    data_dir = os.path.join(root, f"tables-{_key()}")
    if not os.path.isdir(data_dir):
        tmp = f"{data_dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.abspath(__file__), tmp],
                       check=True, stdout=sys.stderr)
        try:
            os.rename(tmp, data_dir)
        except OSError:  # another run renamed first; its copy is identical
            shutil.rmtree(tmp, ignore_errors=True)
    rows, sizes = {}, {}
    digest = hashlib.sha256()
    for f in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, f)
        rows[f[:-8]] = pq.ParquetFile(path).metadata.num_rows
        sizes[f[:-8]] = os.path.getsize(path)
        with open(path, "rb") as fh:
            digest.update(fh.read())
    return data_dir, {"rows": rows, "bytes": sizes, "sha256": digest.hexdigest()[:16]}


def doc_clusters() -> dict[int, int]:
    """Near-duplicate cluster of every original document. The source
    corpus plants its own near-duplicates: pairs of originals share at
    least 90% of their word 3-shingles, all other pairs at most 7%, so
    originals above a Jaccard of 0.5 are joined (union-find)."""
    import itertools

    t = pq.read_table(os.path.join(SRC, "documents.parquet"), columns=["doc_id", "text"])
    ids = t.column("doc_id").to_pylist()
    shingles = [set(zip(w, w[1:], w[2:])) for w in
                (x.split() for x in t.column("text").to_pylist())]
    root = {i: i for i in ids}

    def find(i):
        while root[i] != i:
            i = root[i]
        return i
    for (a, sa), (b, sb) in itertools.combinations(zip(ids, shingles), 2):
        if sa and sb and len(sa & sb) > 0.5 * len(sa | sb):
            root[find(a)] = find(b)
    return {i: find(i) for i in ids}


def embeddings() -> tuple[np.ndarray, np.ndarray]:
    """(vec_id, float64 vectors) of the embeddings corpus."""
    t = pq.read_table(os.path.join(SRC, "embeddings.parquet"))
    vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
    return t.column("vec_id").to_numpy(), vecs.astype(np.float64)


def near(rng, corpus: np.ndarray, n: int) -> np.ndarray:
    """``n`` unit vectors, each a seeded corpus vector plus noise."""
    x = corpus[rng.integers(0, len(corpus), n)]
    x = x + NOISE * rng.normal(size=x.shape)
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def draws(seed: int) -> dict:
    """Everything the workload seed decides; identical for equal seeds."""
    rng = np.random.default_rng(seed)
    ids, corpus = embeddings()
    return {
        "andl": {
            "where_fold": int(rng.integers(100_000, 400_000)),
            "join": int(rng.integers(0, 9_000)),
            "running": int(rng.integers(200, 260)),
            # every start in [188, 375) reaches 3 nodes before
            # MAX_CUSTKEY, so the fixpoint runs the same number of
            # rounds for every seed
            "while": int(rng.integers(188, 375)),
        },
        "query_vectors": [near(rng, corpus, QUERY_ROWS) for _ in range(QUERY_BATCHES)],
        "append_vectors": [near(rng, corpus, APPEND_ROWS) for _ in range(APPEND_BATCHES)],
        # disjoint batches of corpus ids: a delete never targets a dead id
        "delete_ids": rng.permutation(ids)[:DELETE_BATCHES * DELETE_ROWS]
        .reshape(DELETE_BATCHES, DELETE_ROWS),
    }


if __name__ == "__main__":
    derive(sys.argv[1])
