"""`serve`: read-only closed loop over a durable multi-user collection.

Set-up builds the collection through the public write path (streaming
ingest, index build, remove, auto_optimize; see WritePath), leaving
several flushed segments and Zipf-skewed users. Two client threads then
send requests back to back until the run's time is up, in a fixed
40/20/20/20 cycle of ann_search / hybrid / term_search_indexed / exact
search, k=10.
"""

from __future__ import annotations

import glob
import itertools
import os
import threading
import time

import numpy as np
from pyspark import InheritableThread
from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.common import dir_bytes, dir_files
from perfbench.layers import write_amp
from perfbench.stats import weighted_median_mix

DIM = 32
N_USERS = 8
N_CLUSTERS = 4
N_DOCS = 2000
N_SEGMENTS = 2
N_CENTROIDS = 4
REMOVE_FRAC = 0.10
K = 10
TERM_LIMIT = 50
CLIENTS = 2
CYCLE = ("ann", "term", "ann", "knn", "hybrid")  # 40/20/20/20
MIX = {"ann": 0.4, "hybrid": 0.2, "term": 0.2, "knn": 0.2}
WARMUP_ID = 10**6  # request numbers of set-up requests, beyond any timed one
SCHEMA = "user_id long, doc_id long, vector array<float>, title string"


class WritePath:
    """Builds the collection through the public write path: each batch
    lands as a parquet file, one stream_insert_with_autoflush query
    streams the files in (one micro-batch and one flushed segment per
    file), build_index indexes the segments, then 10% of the docs are
    removed, auto_optimize vacuums the segment over its deleted-ratio
    threshold and build_index indexes its replacement. A probe per batch
    then checks read-your-writes, and every later read checks that
    removed docs stay gone."""

    def __init__(self, run, docs: gen.Docs):
        from muopdb_spark.catalog import Collection, CollectionConfig

        self.run, self.docs = run, docs
        cfg = CollectionConfig(
            name="bench", num_features=DIM, num_centroids=N_CENTROIDS,
            attribute_schema={"title": "text"},
        )
        self.col = col = Collection.create(run.spark, os.path.join(run.root, "collections"), cfg)
        load = col.load_segment_index

        def load_segment_index(seg):  # ann_search loads each segment's index through this
            with run.span("index.load_segment_index"):
                return load(seg)

        col.load_segment_index = load_segment_index
        self.src = os.path.join(run.root, "landing")
        os.makedirs(self.src)
        self.detail: dict = {}

    def land(self, rng) -> list[tuple]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        per = N_DOCS // N_SEGMENTS
        batches = []
        for b in range(N_SEGMENTS):
            batch = gen.make_docs(rng, per, DIM, N_USERS, N_CLUSTERS, first_id=b * per)
            user, ids, vec, title = batch
            table = pa.table({
                "user_id": pa.array(user, pa.int64()), "doc_id": pa.array(ids, pa.int64()),
                "vector": pa.array(list(vec), pa.list_(pa.float32())),
                "title": pa.array(title, pa.string()),
            })
            pq.write_table(table, os.path.join(self.src, f"batch_{b:03d}.parquet"))
            batches.append(batch)
        return batches

    def stream(self) -> None:
        from muopdb_spark.streaming.ingest import stream_insert_with_autoflush

        run = self.run
        with run.writing("streaming.stream_insert_with_autoflush", self.col.root) as s:
            src = run.spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
            q = stream_insert_with_autoflush(
                self.col, src.parquet(self.src), os.path.join(run.root, "stream_ckpt"),
                max_pending_rows=1)
            if s is not None:  # the query runs its batches under its own job group
                s["extra_groups"].append(str(q.runId))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"streaming ingest failed: {q.exception()}")

    def probe(self, batch, rng) -> None:
        """Read-your-writes: a live doc of an acknowledged batch, queried
        by its own vector, must come back first."""
        user, ids, vec, _ = batch
        i = int(rng.choice(np.flatnonzero(np.isin(ids, self.docs.ids[self.docs.live]))))
        users = [int(user[i])]
        rows = self.col.ann_search(users, vec[i].astype(np.float64).tolist(), K).collect()
        got = [r["id"] for r in rows]
        live = set(self.docs.ids[self.docs.mask(users)].tolist())
        reason = None
        if not got or got[0] != ids[i]:
            reason = f"doc {ids[i]} of an acknowledged batch is not visible (got {got[:3]})"
        elif not set(got) <= live:
            reason = f"removed or foreign ids returned: {sorted(set(got) - live)[:3]}"
        self.run.op(reason, "read-your-writes probe")

    def build(self) -> None:
        run, col, docs = self.run, self.col, self.docs
        rng = np.random.default_rng([run.seed, 1])
        t_land = time.perf_counter()
        batches = self.land(rng)
        with run.request(0, control=False):
            t0 = time.perf_counter()
            self.stream()
            t1 = time.perf_counter()
            run.write("catalog.build_index", col.build_index, col.root)
        self.detail["ingest_rows_per_s"] = N_DOCS // N_SEGMENTS * N_SEGMENTS / (t1 - t0)
        self.detail["fresh_s"] = time.perf_counter() - t_land
        for b in batches:
            docs.add(*b)
        # the oldest batch loses 10% of the collection's docs, so exactly
        # one segment crosses auto_optimize's deleted-ratio threshold
        oldest = np.flatnonzero(docs.live & np.isin(docs.ids, batches[0][1]))
        doomed = rng.choice(oldest, size=int(REMOVE_FRAC * docs.live.sum()), replace=False)
        ids = sorted(int(i) for i in docs.ids[doomed])
        users = sorted({int(u) for u in docs.user[doomed]})
        with run.request(0, control=False):
            run.write("catalog.remove", lambda: col.remove(users, ids), col.root)
            docs.kill(ids)
            t0 = time.perf_counter()
            actions = run.write("catalog.auto_optimize", col.auto_optimize, col.root)
            self.detail["compact_s"] = time.perf_counter() - t0
            run.write("catalog.build_index", col.build_index, col.root)
        run.op(None if actions["vacuumed"] else "auto_optimize rewrote nothing",
               "auto_optimize after removing 10%")
        for b in batches:
            self.probe(b, rng)
        self.detail["space_amp"] = dir_bytes(col.root) / docs.raw_bytes()


class Requests:
    """Sends and checks one request of each kind against `docs`."""

    def __init__(self, run, col, docs: gen.Docs):
        self.run, self.col, self.docs = run, col, docs
        self.users_p = gen.zipf_weights(N_USERS)
        self.recalls: list[float] = []
        self._lock = threading.Lock()

    def _rng(self, n: int):
        return np.random.default_rng([self.run.seed, 2, n])

    def _user(self, rng) -> list[int]:
        return [int(rng.choice(len(self.users_p), p=self.users_p))]

    def ann(self, n: int) -> None:
        rng = self._rng(n)
        users = self._user(rng)
        q = gen.query_near(rng, self.docs, users)
        rows = self.run.read("catalog.ann_search",
                             lambda: self.col.ann_search(users, q, K))
        got = [(r["id"], r["score"]) for r in rows]
        truth = self.docs.distances(self.docs.ids[self.docs.mask(users)], q)
        exact = self.docs.exact_topk(users, q, K)
        if self.run.op(checks.check_approx(got, K, truth), f"ann_search #{n}"):
            with self._lock:
                self.recalls.append(checks.recall([i for i, _ in got], [i for i, _ in exact]))

    def knn(self, n: int) -> None:
        rng = self._rng(n)
        users = self._user(rng)
        q = gen.query_near(rng, self.docs, users)
        rows = self.run.read("catalog.search", lambda: self.col.search(users, q, K))
        got = [(r["doc_id"], r["score"]) for r in rows]
        truth = self.docs.distances(self.docs.ids[self.docs.mask(users)], q)
        self.run.op(checks.check_exact_topk(got, self.docs.exact_topk(users, q, K), truth),
                    f"search #{n}")

    def term(self, n: int) -> None:
        rng = self._rng(n)
        users = self._user(rng)
        terms = gen.pick_terms(rng, self.docs, users, 2)
        rows = self.run.read(
            "catalog.term_search_indexed",
            lambda: self.col.term_search_indexed(users, [("title", t) for t in terms], TERM_LIMIT))
        expected = self.docs.term_hits(users, terms)[:TERM_LIMIT]
        self.run.op(checks.check_ids([r["doc_id"] for r in rows], expected),
                    f"term_search_indexed #{n} {terms}")

    def hybrid(self, n: int) -> None:
        rng = self._rng(n)
        users = self._user(rng)
        terms = gen.pick_terms(rng, self.docs, users, 1)
        q = gen.query_near(rng, self.docs, users)

        def build():
            ids = self.col.term_search_indexed(
                users, [("title", t) for t in terms], N_DOCS).select(F.col("doc_id").alias("id"))
            return self.col.ann_search(users, q, K, pre_filter_ids=ids)

        rows = self.run.read("catalog.ann_search_prefiltered", build)
        got = [(r["id"], r["score"]) for r in rows]
        allowed = set(self.docs.term_hits(users, terms))
        truth = self.docs.distances(self.docs.ids[self.docs.mask(users)], q)
        self.run.op(checks.check_approx(got, K, truth, allowed), f"hybrid #{n} {terms}")

    def send(self, kind: str, n: int) -> None:
        getattr(self, kind)(n)


def closed_loop(run, reqs: Requests) -> tuple[int, float]:
    """CLIENTS threads, each sending its next request when the previous
    one returns, until the run's time is up. Returns (requests done,
    seconds from start until the last one returned)."""
    counter = itertools.count()
    lock = threading.Lock()
    end = run.deadline()
    errors: list[BaseException] = []

    def client():
        try:
            while time.perf_counter() < end:
                with lock:
                    n = next(counter)
                kind = CYCLE[n % len(CYCLE)]
                with run.request(n):
                    t0 = time.perf_counter()
                    reqs.send(kind, n)
                    run.sample(kind, (time.perf_counter() - t0) * 1000.0)
        except BaseException as e:  # re-raised on the main thread below
            errors.append(e)

    threads = [InheritableThread(target=client) for _ in range(CLIENTS)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    loop_s = time.perf_counter() - t0
    if errors:
        raise errors[0]
    return next(counter), loop_s


def setup(run) -> dict:
    docs = gen.Docs(DIM)
    b = WritePath(run, docs)
    b.build()
    reqs = Requests(run, b.col, docs)
    # warm-up: the read-your-writes probes warmed ann_search; hybrid
    # requests are a term search feeding an ann_search
    for n, kind in enumerate(("term", "knn")):
        reqs.send(kind, WARMUP_ID + n)
    reqs.recalls.clear()
    return {"col": b.col, "docs": docs, "reqs": reqs, "detail": b.detail}


def measure(run, state: dict) -> dict:
    reqs, col = state["reqs"], state["col"]
    run.extra["catalog.segments_at_read"] = len(col.toc()["segments"])
    done, loop_s = closed_loop(run, reqs)
    idx = glob.glob(os.path.join(col.root, "segments", "*", "index"))
    run.extra["index.files"] = sum(dir_files(d) for d in idx)
    run.extra["index.bytes"] = sum(dir_bytes(d) for d in idx)
    run.extra["catalog.write_amp"] = write_amp(run.tr.spans, state["docs"].raw_bytes())
    s = run.samples
    return {
        "request_ms": weighted_median_mix(s, MIX),
        "items_per_s": done / loop_s,
        "recall": float(np.mean(reqs.recalls)) if reqs.recalls else 0.0,
        "detail": {
            "ann_p50_ms": _med(s["ann"]), "knn_p50_ms": _med(s["knn"]),
            "term_p50_ms": _med(s["term"]), "hybrid_p50_ms": _med(s["hybrid"]),
            "search_qps": done / loop_s,
            "ann_recall_at_10": float(np.mean(reqs.recalls)) if reqs.recalls else None,
            "reads": done,
            **state["detail"],
        },
    }


def _med(xs):
    return float(np.median(xs)) if xs else None
