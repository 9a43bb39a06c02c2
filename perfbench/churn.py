"""Index churn: writes beside reads on a persisted IVF index (the tail
of each ``project_query`` round).

Set-up builds an IVF index from seeded clustered vectors (the generated
centroids are the index's centroids) and each run works on its own
fresh copy. A round appends a batch (``append_ivf_index``), runs two
``ivf_search`` calls probing 4 of the 16 clusters and one probing all of
them, then one ``maintain_index(max_batches=1, fsck=True)`` tick, which
compacts the two visible batches into one. Every search is checked exactly against a numpy top-k over
the committed vectors of the probed clusters, and every tick must
report a clean ``fsck``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from perfbench import gen

K = 10
N_PROBE = 4
SEARCHES = (N_PROBE, N_PROBE, gen.VectorShape().clusters)
MAX_BATCHES = 1
#: replaced batches are purged by the next tick that finds them retired
TTL_S = 1.0


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> tuple[int, int]:
    """Bytes and files created or rewritten between two listings."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return sum(after[p][0] for p in changed), len(changed)


class IndexChurn:
    shape = gen.VectorShape()

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.centroids = gen.centroids(seed, self.shape)

    def generate(self, out_dir: str) -> None:
        ids, vecs = gen.vector_batch(self.seed, self.shape, 0)
        gen.write_parquet(gen.vector_table(ids, vecs),
                          os.path.join(out_dir, "base.parquet"))

    def prepare(self, data_dir: str, work_dir: str) -> None:
        """Build the template index, then give the run its own copy."""
        from dsgrid_spark.pipeline.similarity import write_ivf_index

        self.work_dir = work_dir
        template = os.path.join(work_dir, "template")
        write_ivf_index(self.spark.read.parquet(os.path.join(data_dir, "base.parquet")),
                        template, self.centroids.tolist())
        self.index = os.path.join(work_dir, "index")
        shutil.copytree(template, self.index)
        self.ids, self.vectors = gen.vector_batch(self.seed, self.shape, 0)
        self.clusters = np.argmax(self.vectors @ self.centroids.T, axis=1)
        self.next_batch = 1
        self.n_queries = 0

    # ---- checks --------------------------------------------------------
    def _expected(self, q: np.ndarray, n_probe: int) -> list[tuple[int, float]]:
        probed = np.argsort(-(self.centroids @ q), kind="stable")[:n_probe]
        mask = np.isin(self.clusters, probed)
        scores = self.vectors[mask] @ q
        ids = self.ids[mask]
        order = np.lexsort((ids, -scores))[:K]
        return [(int(ids[i]), float(scores[i])) for i in order]

    def _check_search(self, table, q, n_probe) -> str | None:
        got = sorted(zip(table.column("id").to_pylist(),
                         table.column("score").to_pylist()),
                     key=lambda r: (-r[1], r[0]))
        want = self._expected(q, n_probe)
        if [i for i, _ in got] != [i for i, _ in want]:
            return f"search ids {[i for i, _ in got]} != {[i for i, _ in want]}"
        if not np.allclose([s for _, s in got], [s for _, s in want],
                           rtol=1e-9, atol=1e-12):
            return "search scores differ from numpy cosine"
        return None

    # ---- ops -----------------------------------------------------------
    def _append(self, runner) -> None:
        from dsgrid_spark.pipeline.similarity import append_ivf_index

        i = self.next_batch
        self.next_batch += 1
        ids, vecs = gen.vector_batch(self.seed, self.shape, i)
        table = gen.vector_table(ids, vecs)
        path = os.path.join(self.work_dir, "batches", f"b{i:05d}.parquet")
        gen.write_parquet(table, path)
        before = _files(self.index)
        runner.call("append", "append",
                    lambda: append_ivf_index(self.spark.read.parquet(path),
                                             self.index, batch_id=f"b{i:05d}"),
                    lambda ok: None if ok else "append was skipped as a replay")
        op = runner.ops[-1]
        size, files = _written(before, _files(self.index))
        op.extra.update(user_bytes=table.nbytes, bytes_written=size,
                        files_written=files)
        if op.error is None:
            self.ids = np.concatenate([self.ids, ids])
            self.vectors = np.concatenate([self.vectors, vecs])
            self.clusters = np.concatenate(
                [self.clusters, np.argmax(vecs @ self.centroids.T, axis=1)])

    def _searches(self, runner) -> None:
        from dsgrid_spark.pipeline.similarity import ivf_search

        qs = gen.query_vectors(self.seed, self.shape, self.n_queries,
                               self.vectors, len(SEARCHES))
        self.n_queries += 1
        for q, n_probe in zip(qs, SEARCHES):
            runner.query(
                "search",
                lambda q=q, n=n_probe: ivf_search(self.spark, self.index,
                                                  [(0, q.tolist())],
                                                  k=K, n_probe=n),
                lambda t, q=q, n=n_probe: self._check_search(t, q, n),
                kind="search", committed_rows=len(self.ids))

    def _maintain(self, runner) -> None:
        from dsgrid_spark.pipeline.rebalance import maintain_index

        before = _files(self.index)
        runner.call("maintain", "maintain",
                    lambda: maintain_index(self.spark, self.index,
                                           ttl_seconds=TTL_S,
                                           max_batches=MAX_BATCHES, fsck=True),
                    lambda r: None if r["fsck"]["ok"] else f"fsck: {r['fsck']}")
        size, files = _written(before, _files(self.index))
        runner.ops[-1].extra.update(bytes_written=size, files_written=files,
                                    bytes_rewritten=size)

    def round(self, runner) -> None:
        self._append(runner)
        self._searches(runner)
        self._maintain(runner)
