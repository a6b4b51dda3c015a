"""`curate`: a batch curation pipeline over a generated corpus.

The run times about `--seconds` worth of passes (NOMINAL_PASS_S each),
back to back. Each pass runs
clean_text -> exact_dedup -> minhash_lsh_pairs -> contamination_report
-> gopher_quality_flags -> scrub_pii -> write_shards, and every stage
writes its output as parquet that the next stage reads, so stages are
timed on their own work and never on a predecessor's lineage. The
corpus plants exact duplicates, one-word-edit near duplicates and
passages copied from a benchmark set; the catalog is never touched.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench import checks, gen

N_BASE = 1500
WARMUP_BASE = 200
WARMUP_PASSES = 2
N_SHARDS = 4
MIX = {"pass": 1.0}  # one request = one pass over the corpus
NOMINAL_PASS_S = 5.5  # a fully warm pass over N_BASE docs on a 4-core host
STAGES = (
    "operators.normalize.clean_text",
    "operators.dedup.exact_dedup",
    "operators.dedup.minhash_lsh_pairs",
    "operators.contamination.contamination_report",
    "operators.quality.gopher_quality_flags",
    "operators.pii.scrub_pii",
    "operators.export.write_shards",
)


class Curate:
    def __init__(self, run, n_base: int, name: str):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.run = run
        self.corpus = gen.Corpus(np.random.default_rng([run.seed, 5, n_base]), n_base)
        self.raw = os.path.join(run.root, f"{name}.parquet")
        self.bench = os.path.join(run.root, f"{name}_bench.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(self.corpus.ids, pa.int64()),
                                 "text": self.corpus.texts}), self.raw)
        pq.write_table(pa.table({"doc_id": pa.array(range(len(self.corpus.bench)), pa.int64()),
                                 "text": self.corpus.bench}), self.bench)
        self.expected_drop = self.corpus.duplicate_ids()
        self.passes = 0
        self.pass_s: list[float] = []
        self.near_recall: list[float] = []

    def _stage(self, name: str, build, out: str | None) -> None:
        """One stage: `build()` is the operator call (the plan phase,
        eager pins included) and writing its result to `out` is the exec
        phase. With `out` None the operator writes itself, so the whole
        call is the exec phase."""
        run = self.run
        with run.span(name):
            with run.span("plan"):
                df = build() if out is not None else None
            with run.span("exec"):
                if out is None:
                    build()
                else:
                    df.write.parquet(out)

    def one_pass(self) -> None:
        from muopdb_spark.operators.contamination import contamination_report
        from muopdb_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
        from muopdb_spark.operators.export import write_shards
        from muopdb_spark.operators.normalize import clean_text
        from muopdb_spark.operators.pii import scrub_pii
        from muopdb_spark.operators.quality import gopher_quality_flags
        from pyspark.sql import functions as F

        run = self.run
        read = run.spark.read.parquet
        n = self.passes
        self.passes += 1
        d = os.path.join(run.root, f"pass_{os.path.basename(self.raw)}_{n}")
        p = {k: os.path.join(d, k) for k in
             ("clean", "exact", "kept", "pairs", "contam", "quality", "pii", "shards")}
        with run.request(n):
            t0 = time.perf_counter()
            self._stage(STAGES[0], lambda: clean_text(read(self.raw)).select(
                "doc_id", F.col("text_clean").alias("text")), p["clean"])
            self._stage(STAGES[1], lambda: exact_dedup(read(p["clean"])), p["exact"])
            canon = read(p["exact"]).filter("is_canonical").select("doc_id")
            read(p["clean"]).join(canon, "doc_id", "left_semi").write.parquet(p["kept"])
            self._stage(STAGES[2], lambda: minhash_lsh_pairs(read(p["kept"])), p["pairs"])
            self._stage(STAGES[3], lambda: contamination_report(read(p["kept"]), read(self.bench)),
                        p["contam"])
            self._stage(STAGES[4], lambda: gopher_quality_flags(read(p["kept"])), p["quality"])
            self._stage(STAGES[5], lambda: scrub_pii(read(p["kept"])), p["pii"])
            self._stage(STAGES[6], lambda: write_shards(
                read(p["pii"]).select("doc_id", F.col("redacted").alias("text")),
                p["shards"], n_shards=N_SHARDS), None)
            dt = time.perf_counter() - t0
            run.sample("pass", dt * 1000.0)
        self.pass_s.append(dt)
        self._check(n, p)
        shutil.rmtree(d)

    def _check(self, n: int, p: dict) -> None:
        run = self.run
        read = run.spark.read.parquet
        dropped = {r["doc_id"] for r in read(p["exact"]).filter("not is_canonical")
                   .select("doc_id").collect()}
        run.op(checks.check_dropped(dropped, self.expected_drop), f"exact_dedup pass {n}")
        found = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
                 for r in read(p["pairs"]).select("doc_a", "doc_b").collect()}
        planted = self.corpus.near_pairs
        self.near_recall.append(sum(pair in found for pair in planted) / len(planted))
        shards = read(p["shards"]).count()
        run.op(None if shards == len(self.corpus) - len(self.expected_drop)
               else f"{shards} sharded docs, expected {len(self.corpus) - len(self.expected_drop)}",
               f"write_shards pass {n}")


def setup(run) -> dict:
    # warm-up: unrecorded passes over a small corpus of its own, which
    # compile and start every code path the measured passes take
    warm = Curate(run, WARMUP_BASE, "warmup")
    for _ in range(WARMUP_PASSES):
        warm.one_pass()
    run.samples.clear()
    run.untraced.clear()
    return {"cur": Curate(run, N_BASE, "corpus")}


def measure(run, state: dict) -> dict:
    cur = state["cur"]
    # pass times still fall over the first several passes as the JVM
    # warms, so the run times a fixed number of passes sized from its
    # seconds: a faster or slower host never changes which passes count
    for _ in range(max(1, round(run.seconds / NOMINAL_PASS_S))):
        cur.one_pass()
    docs = len(cur.corpus)
    return {
        "request_ms": float(np.median(cur.pass_s)) * 1000.0,
        "items_per_s": docs * len(cur.pass_s) / sum(cur.pass_s),
        "recall": float(np.mean(cur.near_recall)),
        "detail": {
            "curate_docs_per_s": docs * len(cur.pass_s) / sum(cur.pass_s),
            "near_dup_recall": float(np.mean(cur.near_recall)),
            "passes": len(cur.pass_s),
            "docs": docs,
        },
    }
