"""Collection catalog + LSM-style segment lifecycle.

The reference Collection (rs/index/src/collection/core.rs:164) is a
config + versioned set of immutable segments + WAL + mutable in-memory
segment. Spark-first re-expression (SURVEY.md §1.1, §2.1, §2.9):

  layout on disk (any Hadoop-compatible FS):
    <root>/<name>/collection_config.json      (S1 DDL artifact; analog of
                                               collection_config.json,
                                               rs/index/src/collection/reader.rs:254)
    <root>/<name>/wal/                        staged inserts (parquet,
                                               seq_no column) — the WAL
    <root>/<name>/tombstones/                 delete marks (S4; analog of
                                               invalidated_ids.rs:9-44)
    <root>/<name>/segments/<seg>/docs/        flushed immutable docs
    <root>/<name>/versions/version_N.json     TOC (rs/index/src/collection/
                                               mod.rs:20-53): active segment
                                               names + flushed seq_no

  semantics:
    - insert/remove append with a monotonic seq_no (W3; wal/entry.rs:6-24)
    - flush (S5; core.rs:867-976) freezes WAL rows > flushed_seq_no into
      a new immutable segment and commits a new TOC version atomically
      (write temp + rename — the version-file swap of core.rs:1014-1162)
    - searches read ONLY flushed segments (W5 read-your-writes boundary:
      core.rs:812-813 "not immediately searchable") and anti-join
      tombstones (V20)
    - merge_segments / vacuum (S10, §4.2 compaction; optimizers/merge.rs:38,
      vacuum.rs:38) rewrite segments and swap the TOC; old versions remain
      readable (MVCC snapshots, core.rs:978-1011) until garbage-collected
    - auto_optimize applies the reference's default policies: vacuum when
      deleted/total > 0.1 (immutable_segment.rs:75-82), merge when
      segment count > max_segments (collection.rs:168-170)
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import tempfile
import threading
import uuid
from dataclasses import asdict, dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from muopdb_spark.sql import distance_sql, sql_array, sql_in, sql_string


@dataclass
class CollectionConfig:
    """Analog of CollectionConfig (rs/config/src/collection.rs:8)."""

    name: str
    num_features: int
    metric: str = "l2"                       # DistanceType (enums.rs:21-26)
    attribute_schema: dict = field(default_factory=dict)  # field -> text|keyword|int|float|bool
    num_centroids: int = 10                  # collection.rs:65-69
    max_posting_size: int | None = None
    max_clusters_per_vector: int = 1
    distance_threshold: float = 0.1
    quantizer: str = "none"  # none|pq|rabitq|sq|opq (enums.rs:4-9 + SQ8/OPQ)
    pq_subvectors: int = 4                   # collection.rs:43-63 subvector geometry
    pq_centers: int = 16
    vacuum_deleted_ratio: float = 0.1        # immutable_segment.rs:75-82
    max_segments: int = 10                   # collection.rs:168-170
    # Parquet bloom filter on doc_id in flushed segments (0 disables).
    # The delete/lookup path probes segments by doc_id equality; row-
    # group min/max stats rarely prune on a hash-distributed id, so the
    # bloom filter is what lets a point probe skip row groups — the
    # columnar analog of the reference's per-segment id set
    # (multi_spann/builder.rs:16-26). ndv sizes the filter per the
    # parquet-mr writer contract (expected distinct doc_ids per file).
    bloom_filter_ndv: int = 100_000

    def validate(self) -> None:
        """Reject config combinations whose search results would be
        silently wrong. quantizer='sq' decodes to an L2-range estimate
        (sq_est_score_cols is always an L2 distance), so under 'dot' or
        'cosine' the candidate ranking is a DIFFERENT metric: rerank
        recovers ordering only if containment happens to hold, and
        without rerank the returned score IS the wrong metric. Refuse
        at create/build time instead."""
        if self.quantizer not in ("none", "pq", "pq_user", "rabitq", "sq",
                                  "opq", "opq_user"):
            raise ValueError(
                f"unknown quantizer {self.quantizer!r} "
                "(none|pq|pq_user|rabitq|sq|opq|opq_user)"
            )
        if self.quantizer in ("sq", "pq_user", "opq_user") and self.metric not in (
            "l2", "l2_squared"
        ):
            raise ValueError(
                f"quantizer={self.quantizer!r} supports only l2/l2_squared "
                "metrics (its candidate estimator is an L2 distance); got "
                f"metric={self.metric!r} — use quantizer='pq' or 'rabitq' "
                "for dot/cosine collections"
            )

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "CollectionConfig":
        return cls(**json.loads(s))


def _attr_kind(spec) -> str:
    """Kind of an attribute_schema value. A spec is either a plain kind
    ("text") or (kind, language) — and the latter arrives as a TUPLE
    from in-process config but as a LIST after the config's JSON
    round-trip (Collection.open), so any `isinstance(spec, tuple)` or
    `spec in ("text", ...)` test silently drops language-tagged fields
    on reopened collections (r16 review finding: term_search raised a
    raw KeyError after restart, and build_index never built the terms
    index for such fields)."""
    return spec if isinstance(spec, str) else spec[0]


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


_APPEND_LOCKS: dict[str, threading.Lock] = {}
_APPEND_LOCKS_GUARD = threading.Lock()


def _append_lock_for(root: str) -> threading.Lock:
    """Process-wide lock per collection directory (normalized path).
    The FileOutputCommitter `_temporary/0` staging race this guards is a
    property of the DIRECTORY, not of a Collection instance."""
    key = os.path.realpath(root)
    with _APPEND_LOCKS_GUARD:
        return _APPEND_LOCKS.setdefault(key, threading.Lock())


def _atomic_write(path: str, content: str) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d)
    with os.fdopen(fd, "w") as f:
        f.write(content)
    os.replace(tmp, path)  # atomic on POSIX — the TOC version swap


def _swap_parquet_dir(df, path: str):
    """Crash-safe replacement of the parquet DIRECTORY at `path` (the
    directory analog of _atomic_write): write the new table to a
    uniquely-named sibling, then two-rename swap (current -> .old,
    new -> current) and drop .old. The only non-atomic window is
    between the two renames, and _read_swapped_parquet recovers it from
    .old; a crash during the write leaves only a stale .swap-* sibling,
    which the next swap or read cleans up."""
    import shutil
    import uuid

    tmp = f"{path}.swap-{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(tmp)
    old = path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _recover_swap(path: str) -> None:
    """Recover a _swap_parquet_dir-managed directory from a crash inside
    the swap window (current missing, .old present -> restore .old) and
    sweep stale .swap-* staging siblings. The sweep is AGE-GATED (r16):
    an unconditional sweep raced a concurrent _swap_parquet_dir in the
    same process — the reader deleted the writer's in-flight staging
    dir and failed its swap. Only leftovers old enough to be crash
    debris are removed; data is never at risk either way (staging is
    invisible until renamed)."""
    import glob
    import shutil
    import time

    old = path + ".old"
    if not os.path.isdir(path) and os.path.isdir(old):
        os.rename(old, path)
    for stale in glob.glob(path + ".swap-*"):
        try:
            if time.time() - os.path.getmtime(stale) > 3600:
                shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            continue  # concurrently finished/removed: nothing to sweep


def _read_swapped_parquet(spark: SparkSession, path: str):
    """Read a _swap_parquet_dir-managed directory after _recover_swap."""
    _recover_swap(path)
    return spark.read.parquet(path)


def _parquet_files(path: str) -> tuple[str, ...]:
    """The cache stamp of a MUTABLE parquet directory: its data file
    names. Spark names every file it writes with its job's UUID, so an
    append or a rewrite always changes the listing."""
    try:
        return tuple(sorted(p for p in os.listdir(path) if p.endswith(".parquet")))
    except FileNotFoundError:
        return ()


def _fold(t: np.ndarray) -> np.ndarray:
    """Row sums of `t` bit-equal to distance._fsum, the left fold
    0.0 + t0 + t1 + ...: np.cumsum adds in the same order (np.sum's
    pairwise reduction does not), and the trailing + 0.0 turns the one
    result that differs, an all -0.0 row, into the fold's +0.0."""
    return np.cumsum(t, axis=1)[:, -1] + 0.0


def _centroid_distances(metric: str, c: np.ndarray, q: np.ndarray) -> np.ndarray:
    """score_expr(metric, centroid, q) for every row of `c`, computed
    with the same IEEE operations in the same order, so the floats (and
    hence the probe's ties and ratio cuts) are those of the Spark
    expression."""
    q = q[None, :]
    if metric in ("l2", "l2_squared"):
        d = _fold((c - q) * (c - q))
        return np.sqrt(d) if metric == "l2" else d
    dot = _fold(c * q)
    if metric == "dot":
        return -dot
    if metric == "cosine":
        with np.errstate(divide="ignore", invalid="ignore"):
            return 1.0 - dot / (np.sqrt(_fold(c * c)) * np.sqrt(_fold(q * q)))
    raise ValueError(f"unknown distance metric {metric!r}")


def _probe(table, users, q, metric: str, num_probes: int,
           ratio: float | None) -> list[tuple[int, int]]:
    """The probed (user_id, centroid_id) pairs of one segment, picked on
    the driver from its collected centroid table (user ids, centroid
    ids, centroid matrix) the way a Spark window over the table would:
    per user, centroids ordered by (d asc, centroid_id asc), the first
    num_probes kept, then the V19 ratio prune d - d_min <= |d_min| *
    ratio. abs(d_min) is a DELIBERATE deviation from the reference's
    `min * ratio` (spann/index.rs:233-246): for the negated-dot metric
    d_min is negative, and the reference's threshold would drop every
    non-nearest centroid."""
    uid, cid, cents = table
    m = np.isin(uid, users)
    if not m.any():
        return []
    uid, cid = uid[m], cid[m]
    d = _centroid_distances(metric, cents[m], np.asarray(q, dtype=np.float64))
    order = np.lexsort((cid, d, uid))
    uid, cid, d = uid[order], cid[order], d[order]
    pos = np.arange(len(uid))
    first = np.maximum.accumulate(np.where(np.r_[True, uid[1:] != uid[:-1]], pos, 0))
    keep = pos - first < num_probes
    if ratio is not None:
        keep &= d - d[first] <= np.abs(d[first]) * ratio
    return list(zip(uid[keep].tolist(), cid[keep].tolist()))


class Collection:
    """One collection = one directory tree + a SparkSession."""

    def __init__(self, spark: SparkSession, root: str, config: CollectionConfig):
        self.spark = spark
        self.root = os.path.join(root, config.name)
        self.config = config
        # Serializes in-process WAL/tombstone appends: Spark's Hadoop
        # FileOutputCommitter stages every job under <dir>/_temporary/0,
        # so two concurrent appends to the SAME directory can race —
        # one job's commit-cleanup deletes the other's in-flight task
        # files and rows are silently lost. seq_no uniqueness is still
        # claim-file-arbitrated (works cross-process); only the physical
        # append is serialized, matching the reference's in-process
        # group commit (core.rs AtomicU64 + single WAL appender). On a
        # real cluster, cross-process writers would instead use a
        # manifest-committing table format or per-batch output dirs.
        # The lock is keyed on the collection ROOT in a module-level
        # registry: the _temporary/0 race is per-directory, and one
        # process commonly holds several Collection objects on the same
        # directory (Collection.create then Collection.open), which
        # per-instance locks would not serialize.
        self._append_lock = _append_lock_for(self.root)
        # Resolved read artifacts (parquet relations, loaded segment
        # indexes, collected centroid tables): (kind, name) -> (stamp,
        # value). Segment artifacts are write-once (segment names are
        # fresh UUIDs): stamp None, dropped when the segment leaves the
        # TOC. Mutable directories (tombstones, root codebooks) are
        # stamped with their file listing, so any writer's change, from
        # any Collection object, forces a re-read. Locked because the
        # serving loop shares one Collection between threads.
        self._cache: dict[tuple[str, str], tuple] = {}
        self._cache_lock = threading.Lock()

    # ------------------------------------------------------------ DDL

    @classmethod
    def create(cls, spark: SparkSession, root: str, config: CollectionConfig) -> "Collection":
        """S1 CreateCollection: persist config + empty TOC version_0."""
        config.validate()
        col = cls(spark, root, config)
        if os.path.exists(col._config_path()):
            raise ValueError(f"collection {config.name!r} already exists")
        _atomic_write(col._config_path(), config.to_json())
        col._write_toc({"version": 0, "segments": [], "flushed_seq_no": -1})
        return col

    @classmethod
    def open(cls, spark: SparkSession, root: str, name: str) -> "Collection":
        cfg_path = os.path.join(root, name, "collection_config.json")
        with open(cfg_path) as f:
            config = CollectionConfig.from_json(f.read())
        return cls(spark, root, config)

    def _config_path(self) -> str:
        return os.path.join(self.root, "collection_config.json")

    # ----------------------------------------------------- read cache

    def _cached(self, key: tuple[str, str], build, stamp=None):
        """build() once per key and stamp. Built outside the lock, so a
        cold read on one thread never blocks another thread's hits; two
        racing builds of one key are both valid and the last one stays."""
        with self._cache_lock:
            hit = self._cache.get(key)
        if hit is not None and hit[0] == stamp:
            return hit[1]
        value = build()
        with self._cache_lock:
            self._cache[key] = (stamp, value)
        return value

    def _evict(self, segs) -> None:
        """Drop the cached artifacts of segments that left the TOC, and
        every view over a segment tuple that holds one of them."""
        gone = set(segs)
        with self._cache_lock:
            for key in [k for k in self._cache
                        if gone.intersection(k[1] if isinstance(k[1], tuple) else (k[1],))]:
                del self._cache[key]

    def _segment_table(self, seg: str, sub: str) -> DataFrame:
        path = os.path.join(self._segment_dir(seg), sub)
        return self._cached((sub, seg), lambda: self.spark.read.parquet(path))

    def _root_table(self, name: str) -> DataFrame:
        """A swap-managed table at the collection root (the per-user
        codebooks): crash window recovered first, then read once per
        file listing."""
        path = os.path.join(self.root, name)
        _recover_swap(path)
        return self._cached(("root", name), lambda: self.spark.read.parquet(path),
                            stamp=_parquet_files(path))

    # ------------------------------------------------------------ TOC

    def _versions_dir(self) -> str:
        return os.path.join(self.root, "versions")

    def current_version(self) -> int:
        vs = [
            int(p.split("_")[1].split(".")[0])
            for p in os.listdir(self._versions_dir())
            if p.startswith("version_")
        ]
        return max(vs)

    def toc(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        with open(os.path.join(self._versions_dir(), f"version_{v}.json")) as f:
            return json.load(f)

    def _write_toc(self, toc: dict) -> None:
        _atomic_write(
            os.path.join(self._versions_dir(), f"version_{toc['version']}.json"),
            json.dumps(toc, indent=2, sort_keys=True),
        )

    def _commit_toc(
        self,
        segments: list[str],
        flushed_seq_no: int,
        tomb_applied: dict[str, int] | None = None,
        indexes: dict[str, list[str]] | None = None,
    ) -> int:
        """tomb_applied maps segment -> highest tombstone seq_no already
        physically applied (rows dropped) when the segment was written:
        -1 for fresh flushes, the rewrite-time tombstone high-water mark
        for vacuum/merge outputs. Tombstones at or below every segment's
        watermark are fully applied and can be dropped (the reference
        clears invalidated ids the same way when optimizers rewrite a
        segment).

        indexes maps segment -> list of durable index artifacts under
        segments/<seg>/index/ ("ivf", "terms") — the TOC is the single
        source of truth for what a reader may open (TableOfContent
        analog, rs/index/src/collection/mod.rs:20-53). Entries for
        unchanged segments carry forward; dropped segments drop theirs."""
        v = self.current_version() + 1
        prev = self.toc()
        prev_applied = prev.get("tomb_applied", {})
        prev_idx = prev.get("indexes", {})
        applied = {s: (tomb_applied or {}).get(s, prev_applied.get(s, -1)) for s in segments}
        idx = {s: (indexes or {}).get(s, prev_idx.get(s, [])) for s in segments}
        self._write_toc({
            "version": v, "segments": sorted(segments),
            "flushed_seq_no": flushed_seq_no, "tomb_applied": applied,
            "indexes": idx,
        })
        return v

    # ---------------------------------------------------------- writes

    def _wal_dir(self) -> str:
        return os.path.join(self.root, "wal")

    def _tombstone_dir(self) -> str:
        return os.path.join(self.root, "tombstones")

    def _seq_path(self) -> str:
        return os.path.join(self.root, "seq_counter.json")

    def _seq_claims_dir(self) -> str:
        new = os.path.join(self.root, "seq_claims")
        # pre-r16 layout accidentally nested the collection name twice
        # (<root>/<name>/<name>/seq_claims) — besides contradicting the
        # documented tree, a collection literally named "wal"/"segments"
        # would nest its claims inside the WAL/segment parquet dirs and
        # break their reads. Stay sticky to an existing legacy dir so
        # every writer keeps arbitrating in ONE directory.
        legacy = os.path.join(self.root, self.config.name, "seq_claims")
        if os.path.isdir(legacy):
            return legacy
        return new

    def _next_seq_no(self) -> int:
        """Allocate the next monotonic seq_no, SAFE FOR CONCURRENT
        WRITERS: the persisted counter file is only a hint; the actual
        allocation is an exclusive-create claim file (O_EXCL is atomic
        on POSIX and on HDFS-style create-if-absent), so two racing
        writers can never mint the same seq_no — the filesystem
        arbitrates, the way the reference's in-process AtomicU64 does
        (core.rs group commit). Falls back to a one-time WAL scan when
        the counter is absent (pre-counter collections). Claim files at
        or below the flushed watermark are pruned at flush."""
        if os.path.exists(self._seq_path()):
            with open(self._seq_path()) as f:
                n = json.load(f)["next"]
        else:
            n = self._max_seq_no() + 1
        claims = self._seq_claims_dir()
        os.makedirs(claims, exist_ok=True)
        while True:
            try:
                fd = os.open(
                    os.path.join(claims, f"{n:020d}"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
                os.close(fd)
                break
            except FileExistsError:
                n += 1
        # hint update may race; harmless — claims arbitrate, the hint
        # only shortens the probe walk
        _atomic_write(self._seq_path(), json.dumps({"next": n + 1}))
        return n

    def _prune_seq_claims(self, upto: int) -> None:
        claims = self._seq_claims_dir()
        if not os.path.isdir(claims):
            return
        for name in os.listdir(claims):
            try:
                if int(name) <= upto:
                    os.unlink(os.path.join(claims, name))
            except (ValueError, FileNotFoundError):
                continue

    def _max_seq_no(self) -> int:
        hi = -1
        for d in (self._wal_dir(), self._tombstone_dir()):
            if os.path.isdir(d) and any(p.endswith(".parquet") for p in os.listdir(d)):
                m = self.spark.read.parquet(d).agg(F.max("seq_no")).first()[0]
                hi = max(hi, m if m is not None else -1)
        return hi

    def insert(self, df: DataFrame) -> int:
        """S2 Insert: stamp one seq_no per batch (group commit — the whole
        batch is one WAL append, core.rs:537-745) and append to the WAL.
        Returns the assigned seq_no.

        Vector-length validation runs INSIDE the write job (a
        raise_error branch on the vector column) rather than as a
        separate pre-pass: one scan of the input instead of two, and no
        validate-then-write window for a nondeterministic input to slip
        a wrong-length (or null) vector through. A failed job commits
        nothing (FileOutputCommitter stages under _temporary)."""
        seq = self._next_seq_no()
        msg = f"vector length != num_features={self.config.num_features}"
        checked = df.withColumn(
            "vector",
            F.when(
                F.size("vector") == self.config.num_features, F.col("vector")
            ).otherwise(F.raise_error(F.lit(msg))),
        )
        try:
            with self._append_lock:
                (
                    checked.withColumn("seq_no", F.lit(seq).cast("long"))
                    .write.mode("append").parquet(self._wal_dir())
                )
        except Exception as e:  # surface the named contract error
            if msg in str(e):
                raise ValueError(msg) from e
            raise
        return seq

    def remove(self, user_ids: list[int], doc_ids: list[int]) -> int:
        """S4 Remove: tombstone append, not physical delete."""
        seq = self._next_seq_no()
        rows = [(u, d, seq) for u in user_ids for d in doc_ids]
        tdf = self.spark.createDataFrame(rows, "user_id long, doc_id long, seq_no long")
        with self._append_lock:
            tdf.write.mode("append").parquet(self._tombstone_dir())
        return seq

    def _recover_tombstones(self) -> None:
        """Finish or discard a crashed _prune_tombstones swap (r16).
        The prune rewrites the tombstone dir as write-tmp -> rmtree ->
        rename; a crash between the last two left NO tombstone dir, and
        tombstones() silently read that as EMPTY — every not-yet-applied
        deletion resurrected. Recovery keys off which artifact is
        authoritative: main dir present -> the prune never committed,
        the tmp is a leftover and is discarded; main dir ABSENT and a
        COMPLETE tmp (_SUCCESS) present -> the prune had fully staged
        the survivors, finish the rename. An incomplete tmp without a
        main dir cannot happen (tmp is written before the rmtree)."""
        d = self._tombstone_dir()
        tmp = d + ".rewrite"
        if not os.path.isdir(tmp):
            return
        if os.path.isdir(d):
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
        elif os.path.exists(os.path.join(tmp, "_SUCCESS")):
            os.replace(tmp, d)

    def tombstones(self) -> DataFrame:
        """The tombstone log as of its current file listing. The
        relation is resolved once per listing, and a relation keeps the
        files it listed, so a caller holding it holds a snapshot."""
        return self._tomb_snapshot()[1]

    def _tomb_snapshot(self) -> tuple[tuple[str, ...], DataFrame]:
        """(file listing, relation) of the tombstone log. The listing is
        taken first, so a view stamped with it is never built from an
        older log than its stamp says."""
        self._recover_tombstones()
        d = self._tombstone_dir()
        files = _parquet_files(d)

        def read() -> DataFrame:
            if files:
                return self.spark.read.parquet(d)
            # statically empty (a pruned false filter), so the optimizer
            # drops the masking anti join instead of shuffling for it
            return self.spark.range(1).select(*[
                F.lit(None).cast("long").alias(c) for c in ("user_id", "doc_id", "seq_no")
            ]).filter(F.lit(False))

        return files, self._cached(("root", "tombstones"), read, stamp=files)

    def _apply_tombstones(
        self, df: DataFrame, tomb: DataFrame | None = None, *,
        users: list[int] | None = None, id_col: str = "doc_id",
    ) -> DataFrame:
        """V20 masking, seq_no-aware: a tombstone hides only doc rows
        written AT OR BEFORE it (docs.seq_no <= tomb.seq_no), so a doc
        re-inserted after a remove is searchable again — matching the
        reference, which invalidates only ids present at remove time
        (core.rs remove_impl guards on sequence_number). Planned as an
        anti hash join of the RAW tombstone rows (restricted to `users`
        when given) on the (user_id, id) equi keys with the seq_no
        comparison as the join residual — no nested loop, and no
        aggregate: "some tombstone of the doc is at or above the row's
        seq_no" is the same condition as "the newest one is".

        `tomb` lets rewrite paths (merge/vacuum) pass ONE tombstone
        snapshot shared with their applied-watermark computation: a
        fresh read here could see tombstones newer than the watermark
        caller's read — harmless — but the REVERSE (watermark read
        newer than the masking read) would mark a tombstone applied
        without applying it, and the subsequent prune would delete an
        unapplied deletion (r16 review finding on merge_segments).

        The renamed projection and the join condition are built once per
        tombstone listing (and id column); a request adds only its user
        filter."""
        def mask(tomb):
            return (tomb.selectExpr("user_id AS _tu", "doc_id AS _td", "seq_no AS _ts"),
                    F.expr(f"user_id = _tu AND `{id_col}` = _td AND seq_no <= _ts"))

        if tomb is None:
            files, tomb = self._tomb_snapshot()
            t, cond = self._cached(("mask", id_col), lambda: mask(tomb), stamp=files)
        else:
            t, cond = mask(tomb)
        if users is not None:
            t = t.filter(sql_in("_tu", users))
        return df.join(t, cond, "left_anti")

    # ----------------------------------------------------------- flush

    def _segment_dir(self, name: str) -> str:
        return os.path.join(self.root, "segments", name)

    def flush(self) -> str | None:
        """S5 Flush: WAL rows above the flushed watermark become a new
        immutable segment (docs parquet partitioned by user_id); the TOC
        advances atomically; returns the new segment name (None if the
        WAL has nothing new). The watermark makes re-flushing an
        already-flushed WAL range a no-op; end-to-end the guarantee is
        at-least-once for the WRITE path (a crashed writer may re-append
        with a fresh seq_no — same as any at-least-once producer; the
        streaming path dedups replays by batch_id, see
        streaming/ingest.py), exactly-once for flush itself."""
        toc = self.toc()
        wal = self._wal_dir()
        if not (os.path.isdir(wal) and any(p.endswith(".parquet") for p in os.listdir(wal))):
            return None
        pending = self.spark.read.parquet(wal).filter(F.col("seq_no") > toc["flushed_seq_no"])
        if pending.isEmpty():
            return None
        seg = f"segment_{uuid.uuid4().hex[:12]}"
        new_hi = pending.agg(F.max("seq_no")).first()[0]
        writer = (
            pending.repartition("user_id")
            .write.partitionBy("user_id").mode("errorifexists")
        )
        if self.config.bloom_filter_ndv > 0:
            # per-column parquet-mr writer options: a bloom filter on
            # doc_id lets point probes (delete path, id lookup) skip row
            # groups that min/max stats can't prune (docs/SCALE.md §bloom)
            writer = (
                writer.option("parquet.bloom.filter.enabled#doc_id", "true")
                .option(
                    "parquet.bloom.filter.expected.ndv#doc_id",
                    str(self.config.bloom_filter_ndv),
                )
            )
        writer.parquet(os.path.join(self._segment_dir(seg), "docs"))
        self._commit_toc(toc["segments"] + [seg], new_hi)
        self._prune_seq_claims(new_hi)
        return seg

    # ------------------------------------------------------------ reads

    def segment_docs(self, seg: str) -> DataFrame:
        return self._segment_table(seg, "docs")

    def _union(self, segs: tuple[str, ...]) -> DataFrame:
        """The docs of `segs`, unioned by name, once per segment tuple."""
        def build():
            df = self.segment_docs(segs[0])
            for s in segs[1:]:
                df = df.unionByName(self.segment_docs(s), allowMissingColumns=True)
            return df

        return self._cached(("union", segs), build)

    def docs(self, version: int | None = None, with_tombstones: bool = False) -> DataFrame:
        """All flushed docs at a TOC version (MVCC snapshot read), with
        tombstones anti-joined unless asked otherwise (V20). The masked
        union is built once per (segment tuple, tombstone listing)."""
        segs = tuple(self.toc(version)["segments"])
        if not segs:
            empty = "user_id long, doc_id long, vector array<float>, seq_no long"
            return self.spark.createDataFrame([], empty)
        if with_tombstones:
            return self._union(segs)
        files, _ = self._tomb_snapshot()
        return self._cached(("masked", segs), lambda: self._apply_tombstones(self._union(segs)),
                            stamp=files)

    def search(self, user_ids, query_vector, k, *, pre_filter=None, version=None) -> DataFrame:
        """§3.1 Search over all flushed segments: the per-segment /
        per-user loops of snapshot.rs:39-109 collapse into one DataFrame
        plan — union of segments, tombstone anti-join, score, top-k."""
        from muopdb_spark.operators.knn import knn

        return knn(
            self.docs(version=version),
            query_vector, k,
            vector_col="vector", id_col="doc_id",
            metric=self.config.metric,
            user_ids=user_ids, user_col="user_id",
            pre_filter=pre_filter,
        )

    def term_search(self, user_ids, filter_tree, limit, *, version=None) -> DataFrame:
        """§3.2 TermSearch over flushed docs."""
        from muopdb_spark.filters.compiler import FilterSchema, term_search
        from muopdb_spark.functions.text import stemmed_tokens

        docs = self.docs(version=version)
        schema_fields = {
            f: t for f, t in self.config.attribute_schema.items()
            if _attr_kind(t) in ("text", "keyword")
        }
        schema = FilterSchema(schema_fields)
        for fld in schema.fields:
            if schema.kind(fld) == "text":
                docs = docs.withColumn(
                    fld + "_tokens",
                    stemmed_tokens(F.col(fld), schema.language(fld)),
                )
        return term_search(docs, filter_tree, schema, limit,
                           id_col="doc_id", user_ids=user_ids)

    # ------------------------------------------------------ maintenance

    def stats(self) -> dict:
        """A1 doc counts + byte sizes per segment (drives vacuum; the
        admin GetSegments parity — the reference returns segment sizes,
        admin.proto / admin_server.rs). ONE Spark job for all segments:
        segments union with a segment tag column, left join the newest
        tombstone per doc (grouped, so the join cannot duplicate doc
        rows), one groupBy — not a pair of count jobs per segment."""
        toc = self.toc()
        out: dict = {}
        if toc["segments"]:
            parts = [
                self.segment_docs(s)
                .select("user_id", "doc_id", "seq_no")
                .withColumn("_seg", F.lit(s))
                for s in toc["segments"]
            ]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            t = self.tombstones().groupBy(
                F.col("user_id").alias("_tu"), F.col("doc_id").alias("_td")
            ).agg(F.max("seq_no").alias("tomb_seq"))
            joined = df.join(
                t, (F.col("user_id") == F.col("_tu")) & (F.col("doc_id") == F.col("_td")),
                "left",
            )
            agg = (
                joined.groupBy("_seg")
                .agg(
                    F.count(F.lit(1)).alias("total"),
                    F.sum(
                        F.when(F.col("seq_no") <= F.col("tomb_seq"), 1).otherwise(0)
                    ).alias("deleted"),
                )
                .collect()
            )
            for r in agg:
                out[r["_seg"]] = {"total": r["total"], "deleted": int(r["deleted"] or 0)}
        for seg in toc["segments"]:
            info = out.setdefault(seg, {"total": 0, "deleted": 0})
            info["size_bytes"] = _dir_bytes(self._segment_dir(seg))
        return out

    def merge_segments(self, seg_names: list[str] | None = None) -> str:
        """S10 MergeSegments: rewrite N segments as one; tombstoned rows
        are dropped during the rewrite (merge+vacuum in one pass, like
        optimizers/merge.rs); TOC swap is atomic."""
        toc = self.toc()
        segs = seg_names if seg_names is not None else toc["segments"]
        if not segs:
            return ""
        df = self._union(tuple(segs))
        # one tombstone snapshot for BOTH the masking join and the
        # applied watermark: the watermark must never exceed what the
        # rewrite actually applied (a concurrent remove() between two
        # separate reads would otherwise be pruned un-applied)
        tomb = self.tombstones()
        df = self._apply_tombstones(df, tomb=tomb)
        hi = tomb.agg(F.max("seq_no")).first()[0]
        applied_hi = hi if hi is not None else -1
        merged = f"segment_{uuid.uuid4().hex[:12]}"
        (
            df.repartition("user_id")
            .write.partitionBy("user_id").mode("errorifexists")
            .parquet(os.path.join(self._segment_dir(merged), "docs"))
        )
        remaining = [s for s in toc["segments"] if s not in set(segs)] + [merged]
        self._commit_toc(remaining, toc["flushed_seq_no"], {merged: applied_hi})
        self._evict(segs)
        self._prune_tombstones()
        return merged

    def vacuum(self) -> list[str]:
        """Rewrite any segment whose deleted ratio exceeds the config
        threshold (default 0.1 — the reference's auto-vacuum trigger).
        stats() is computed ONCE up front (one Spark job for all
        segments), not per segment."""
        rewritten = []
        toc = self.toc()
        segments = list(toc["segments"])
        all_stats = self.stats()
        # same single-snapshot contract as merge_segments: watermark and
        # masking reads must not straddle a concurrent remove()
        tomb = self.tombstones()
        hi = tomb.agg(F.max("seq_no")).first()[0]
        applied_hi = hi if hi is not None else -1
        applied: dict[str, int] = {}
        for seg in toc["segments"]:
            st = all_stats[seg]
            if st["total"] == 0 or st["deleted"] / st["total"] <= self.config.vacuum_deleted_ratio:
                continue
            clean = self._apply_tombstones(self.segment_docs(seg), tomb=tomb)
            new_seg = f"segment_{uuid.uuid4().hex[:12]}"
            (
                clean.repartition("user_id")
                .write.partitionBy("user_id").mode("errorifexists")
                .parquet(os.path.join(self._segment_dir(new_seg), "docs"))
            )
            segments = [s for s in segments if s != seg] + [new_seg]
            applied[new_seg] = applied_hi
            rewritten.append(new_seg)
        if rewritten:
            self._commit_toc(segments, toc["flushed_seq_no"], applied)
            self._evict(set(toc["segments"]) - set(segments))
            self._prune_tombstones()
        return rewritten

    def _prune_tombstones(self) -> int:
        """Drop tombstones fully applied to EVERY segment of the current
        TOC (seq_no <= the minimum per-segment applied watermark) — the
        analog of the reference clearing invalidated ids when optimizers
        rewrite segments. Older MVCC versions may still reference
        unrewritten segments only through their own TOCs; pruning keys
        off the CURRENT version, matching the reference (snapshots there
        hold invalidation bitmaps, not the tombstone log). Returns the
        number of tombstone rows dropped."""
        toc = self.toc()
        applied = toc.get("tomb_applied", {})
        if not toc["segments"]:
            return 0
        floor = min(applied.get(s, -1) for s in toc["segments"])
        if floor < 0:
            return 0
        tomb = self.tombstones()
        doomed = tomb.filter(F.col("seq_no") <= floor).count()
        if not doomed:
            return 0
        survivors = tomb.filter(F.col("seq_no") > floor)
        tmp = self._tombstone_dir() + ".rewrite"
        # write-tmp -> rmtree -> rename; the rmtree->rename window is
        # crash-covered by _recover_tombstones (read-side: a complete
        # tmp with no main dir finishes the rename, so the survivors —
        # deletions NOT yet applied to every segment — can never be
        # silently lost; Spark's _SUCCESS is the completeness marker)
        survivors.write.mode("overwrite").parquet(tmp)
        import shutil

        shutil.rmtree(self._tombstone_dir())
        os.replace(tmp, self._tombstone_dir())
        return doomed

    def auto_optimize(self) -> dict:
        """W7 background-loop policy: vacuum over-threshold segments,
        then merge if the segment count exceeds max_segments."""
        actions: dict = {"vacuumed": self.vacuum(), "merged": None}
        if len(self.toc()["segments"]) > self.config.max_segments:
            actions["merged"] = self.merge_segments()
        return actions

    def gc_versions(self, keep_latest: int = 2) -> dict:
        """MVCC garbage collection (core.rs:1183-1226: versions are
        refcounted and GC'd once superseded): drop all but the newest
        `keep_latest` TOC versions, then delete any segment directory no
        longer referenced by a surviving version. Readers pinned to a
        surviving version are unaffected; there is no in-process refcount
        — retention depth is the external-reader grace period, exactly
        like table-format VACUUM retention."""
        import shutil

        versions = sorted(
            int(p.split("_")[1].split(".")[0])
            for p in os.listdir(self._versions_dir())
            if p.startswith("version_")
        )
        doomed = versions[:-keep_latest] if keep_latest > 0 else versions[:-1]
        survivors = [v for v in versions if v not in set(doomed)]
        referenced: set[str] = set()
        for v in survivors:
            referenced.update(self.toc(v)["segments"])
        removed_versions = []
        for v in doomed:
            os.remove(os.path.join(self._versions_dir(), f"version_{v}.json"))
            removed_versions.append(v)
        removed_segments = []
        seg_root = os.path.join(self.root, "segments")
        if os.path.isdir(seg_root):
            for seg in os.listdir(seg_root):
                if seg not in referenced:
                    shutil.rmtree(os.path.join(seg_root, seg))
                    removed_segments.append(seg)
        self._evict(removed_segments)
        return {"versions": removed_versions, "segments": sorted(removed_segments)}

    # ------------------------------------------------- durable indexes

    def _seg_index_dir(self, seg: str, kind: str) -> str:
        return os.path.join(self._segment_dir(seg), "index", kind)

    def _codebook_path(self) -> str:
        return os.path.join(self.root, f"{self.config.quantizer}_codebook.json")

    def _load_or_train_codebook(self):
        """Collection-level quantizer artifact (the reference selects the
        quantizer per collection, rs/index/src/collection/mod.rs:145-149;
        we also SCOPE the codebook per collection — one deviation from
        the reference's per-segment training — so codes from different
        segments score against one table and cross-segment merges need
        no re-encoding). Trained once over a sample, persisted, reused."""
        self.config.validate()  # pre-existing collections: guard at build time
        if self.config.quantizer == "pq":
            from muopdb_spark.index.pq import PqCodebook, train_pq

            if os.path.exists(self._codebook_path()):
                with open(self._codebook_path()) as f:
                    return PqCodebook.from_json(f.read())
            cb = train_pq(
                self.docs(with_tombstones=True), vec_col="vector",
                num_subvectors=self.config.pq_subvectors,
                num_centers=self.config.pq_centers,
            )
        elif self.config.quantizer == "sq":
            # PER-USER SQ codebooks, collection-scoped: a (user_id,
            # mins, scales) parquet table instead of a scalar JSON —
            # each tenant quantizes in its own range (the recall-skew
            # mitigation, index/sq.train_sq_per_user). build_index
            # extends the table when a later segment introduces users
            # unseen at training time.
            from muopdb_spark.index.sq import train_sq_per_user

            path = os.path.join(self.root, "sq_codebook")
            if os.path.isdir(path) or os.path.isdir(path + ".old"):
                return _read_swapped_parquet(self.spark, path)
            cb_df = train_sq_per_user(
                self.docs(with_tombstones=True),
                user_col="user_id", vec_col="vector",
            )
            _swap_parquet_dir(cb_df, path)
            return _read_swapped_parquet(self.spark, path)
        elif self.config.quantizer == "pq_user":
            # PER-USER PQ codebooks, collection-scoped (the PQ analog of
            # the sq table above — index/pq.train_pq_per_user); same
            # swap-managed root artifact, same unseen-user extension in
            # build_index.
            from muopdb_spark.index.pq import train_pq_per_user

            path = os.path.join(self.root, "pq_codebook")
            if os.path.isdir(path) or os.path.isdir(path + ".old"):
                return _read_swapped_parquet(self.spark, path)
            cb_df = train_pq_per_user(
                self.docs(with_tombstones=True),
                user_col="user_id", vec_col="vector",
                num_subvectors=self.config.pq_subvectors,
                num_centers=self.config.pq_centers,
            )
            _swap_parquet_dir(cb_df, path)
            return _read_swapped_parquet(self.spark, path)
        elif self.config.quantizer == "opq_user":
            # PER-USER OPQ, collection-scoped: a (user_id, rotation,
            # books) parquet table — the pq_user artifact contract
            # (swap-managed root dir, unseen-user extension in
            # build_index) with the per-tenant rotation on top.
            from muopdb_spark.index.opq import train_opq_per_user

            path = os.path.join(self.root, "opq_codebook")
            if os.path.isdir(path) or os.path.isdir(path + ".old"):
                return _read_swapped_parquet(self.spark, path)
            cb_df = train_opq_per_user(
                self.docs(with_tombstones=True),
                user_col="user_id", vec_col="vector",
                num_subvectors=self.config.pq_subvectors,
                num_centers=self.config.pq_centers,
            )
            _swap_parquet_dir(cb_df, path)
            return _read_swapped_parquet(self.spark, path)
        elif self.config.quantizer == "opq":
            from muopdb_spark.index.opq import OpqCodebook, train_opq

            if os.path.exists(self._codebook_path()):
                with open(self._codebook_path()) as f:
                    return OpqCodebook.from_json(f.read())
            cb = train_opq(
                self.docs(with_tombstones=True), vec_col="vector",
                num_subvectors=self.config.pq_subvectors,
                num_centers=self.config.pq_centers,
            )
        else:  # rabitq
            from muopdb_spark.index.rabitq import RabitQCodebook, train_rabitq

            if os.path.exists(self._codebook_path()):
                with open(self._codebook_path()) as f:
                    return RabitQCodebook.from_json(f.read())
            cb = train_rabitq(self.docs(with_tombstones=True), vec_col="vector")
        _atomic_write(self._codebook_path(), cb.to_json())
        return cb

    def build_index(self) -> dict:
        """S5's index-build half, durable: for every current-TOC segment
        lacking an index, build per-user IVF tables (+ PQ codes when the
        collection quantizer is 'pq') and the inverted term index, write
        them under segments/<seg>/index/{ivf,terms}/, and commit a TOC
        version referencing them (the flush artifact of core.rs:867-976
        / multi_spann/writer.rs + terms/writer.rs:22-56). A new session
        reopens with Collection.open() + ann_search without rebuilding.
        Incremental by construction: a later flush indexes ONLY the new
        segment."""
        from muopdb_spark.index.multi_ivf import build_multi_ivf, multi_ivf_save
        from muopdb_spark.index.terms import build_term_index

        toc = self.toc()
        indexes = {s: list(v) for s, v in toc.get("indexes", {}).items()}
        quant = self.config.quantizer
        codebook = self._load_or_train_codebook() if quant != "none" else None
        term_fields = {
            f: t for f, t in self.config.attribute_schema.items()
            if _attr_kind(t) in ("text", "keyword")
        }
        built = []
        for seg in toc["segments"]:
            have = set(indexes.get(seg, []))
            if "ivf" not in have:
                docs = self.segment_docs(seg)
                idx = build_multi_ivf(
                    docs, user_col="user_id", vec_col="vector", id_col="doc_id",
                    num_centroids=self.config.num_centroids,
                    metric=self.config.metric,
                    distance_threshold=self.config.distance_threshold,
                    max_clusters_per_vector=self.config.max_clusters_per_vector,
                    carry_cols=["seq_no"],
                )
                if codebook is not None:
                    if quant == "pq":
                        from muopdb_spark.index.pq import pq_encode

                        idx.postings = pq_encode(idx.postings, codebook, vec_col="vector")
                    elif quant == "sq":
                        from muopdb_spark.index.sq import (
                            sq_encode_cols,
                            train_sq_per_user,
                        )

                        # a later segment can carry users unseen when
                        # the codebook trained — extend the table for
                        # them (their docs' own min/max) instead of
                        # silently dropping their postings in the join
                        missing = docs.select("user_id").distinct().join(
                            codebook.select("user_id"), "user_id", "left_anti")
                        if not missing.isEmpty():
                            extra = train_sq_per_user(
                                self.docs(with_tombstones=True).join(
                                    missing, "user_id", "left_semi"),
                                user_col="user_id", vec_col="vector",
                            )
                            codebook = codebook.unionByName(extra)
                            path = os.path.join(self.root, "sq_codebook")
                            # localCheckpoint pins the union (it reads
                            # the directory being replaced) before the
                            # crash-safe two-rename swap of the
                            # authoritative root table
                            codebook = codebook.localCheckpoint(eager=True)
                            _swap_parquet_dir(codebook, path)
                            codebook = _read_swapped_parquet(self.spark, path)
                        idx.postings = (
                            idx.postings.join(F.broadcast(codebook), "user_id")
                            .withColumn(
                                "sq_code",
                                sq_encode_cols(
                                    F.col("vector"), F.col("mins"),
                                    F.col("scales"),
                                    self.config.num_features,
                                ),
                            )
                            .drop("mins", "scales")
                        )
                    elif quant == "pq_user":
                        from muopdb_spark.index.pq import (
                            pq_encode_per_user,
                            train_pq_per_user,
                        )

                        # unseen-user extension: same contract as sq
                        missing = docs.select("user_id").distinct().join(
                            codebook.select("user_id"), "user_id", "left_anti")
                        if not missing.isEmpty():
                            extra = train_pq_per_user(
                                self.docs(with_tombstones=True).join(
                                    missing, "user_id", "left_semi"),
                                user_col="user_id", vec_col="vector",
                                num_subvectors=self.config.pq_subvectors,
                                num_centers=self.config.pq_centers,
                            )
                            codebook = codebook.unionByName(
                                extra).localCheckpoint(eager=True)
                            path = os.path.join(self.root, "pq_codebook")
                            _swap_parquet_dir(codebook, path)
                            codebook = _read_swapped_parquet(self.spark, path)
                        idx.postings = pq_encode_per_user(
                            idx.postings, codebook,
                            user_col="user_id", vec_col="vector",
                        )
                    elif quant == "opq_user":
                        from muopdb_spark.index.opq import (
                            opq_encode_per_user,
                            train_opq_per_user,
                        )

                        # unseen-user extension: same contract as
                        # sq/pq_user
                        missing = docs.select("user_id").distinct().join(
                            codebook.select("user_id"), "user_id", "left_anti")
                        if not missing.isEmpty():
                            extra = train_opq_per_user(
                                self.docs(with_tombstones=True).join(
                                    missing, "user_id", "left_semi"),
                                user_col="user_id", vec_col="vector",
                                num_subvectors=self.config.pq_subvectors,
                                num_centers=self.config.pq_centers,
                            )
                            codebook = codebook.unionByName(
                                extra).localCheckpoint(eager=True)
                            path = os.path.join(self.root, "opq_codebook")
                            _swap_parquet_dir(codebook, path)
                            codebook = _read_swapped_parquet(self.spark, path)
                        idx.postings = opq_encode_per_user(
                            idx.postings, codebook,
                            user_col="user_id", vec_col="vector",
                        )
                    elif quant == "opq":
                        from muopdb_spark.index.opq import opq_encode

                        idx.postings = opq_encode(
                            idx.postings, codebook, vec_col="vector")
                    else:  # rabitq
                        from muopdb_spark.index.rabitq import rabitq_encode

                        idx.postings = rabitq_encode(idx.postings, codebook, vec_col="vector")
                    idx.codebook = codebook
                    idx.quantizer = quant
                multi_ivf_save(idx, self._seg_index_dir(seg, "ivf"))
                have.add("ivf")
            if term_fields and "terms" not in have:
                tdf = build_term_index(
                    self.segment_docs(seg), term_fields,
                    id_col="doc_id", user_col="user_id",
                )
                tdf.write.mode("overwrite").partitionBy("user_id").parquet(
                    self._seg_index_dir(seg, "terms"))
                have.add("terms")
            if have != set(indexes.get(seg, [])):
                indexes[seg] = sorted(have)
                built.append(seg)
        if built:
            self._commit_toc(toc["segments"], toc["flushed_seq_no"], indexes=indexes)
        return {s: indexes.get(s, []) for s in toc["segments"]}

    def load_segment_index(self, seg: str):
        """Reopen one segment's persisted IVF index (reader.rs analog).
        Resolved once per Collection; each caller gets its own shallow
        copy sharing the cached relations."""
        from muopdb_spark.index.multi_ivf import multi_ivf_load

        idx = self._cached(
            ("ivf", seg), lambda: multi_ivf_load(self.spark, self._seg_index_dir(seg, "ivf")))
        return dataclasses.replace(idx)

    def _centroid_table(self, seg: str, idx) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """One segment's centroid table on the driver: (user ids,
        centroid ids, centroid matrix), collected once per Collection."""
        def collect():
            rows = idx.centroids.select("user_id", "centroid_id", "centroid").collect()
            return (
                np.array([r["user_id"] for r in rows], dtype=np.int64),
                np.array([r["centroid_id"] for r in rows], dtype=np.int64),
                np.array([r["centroid"] for r in rows], dtype=np.float64)
                .reshape(len(rows), self.config.num_features),
            )

        return self._cached(("centroids", seg), collect)

    def _indexed_segments(self, kind: str, version: int | None = None) -> list[str]:
        toc = self.toc(version)
        idx = toc.get("indexes", {})
        missing = [s for s in toc["segments"] if kind not in idx.get(s, [])]
        if missing:
            raise ValueError(
                f"segments lack a {kind!r} index (run build_index() first): {missing}"
            )
        return toc["segments"]

    def ann_search(
        self,
        user_ids,
        query_vector,
        k: int,
        *,
        num_probes: int | None = None,
        centroid_distance_ratio: float | None = 0.1,
        rerank: int | None = None,
        pre_filter_ids: DataFrame | None = None,
        per_user: bool = False,
        version: int | None = None,
        score_decimals: int | None = None,
    ) -> DataFrame:
        """§3.1 ANN search over the DURABLE per-segment per-user indexes:
        the per-user / per-segment loops of snapshot.rs:39-109 collapse
        into ONE plan. The probe runs on the driver, over each segment's
        centroid table collected once per Collection (SPANN's in-memory
        centroid index): every requested user's probed centroids of a
        segment become ONE static IN over the postings' (user_id,
        centroid_id) partition columns, so the scan opens only the
        probed posting lists — no window, no broadcast semi-join of
        probed pairs, no centroid scan; a 1,000-user request is still
        one pruned scan per segment. Then tombstone-mask seq_no-aware, score (ADC +
        exact re-rank when quantized), merge top-k.

        Spark jobs, measured on the serve benchmark's warm 2-segment
        collection: 3 for a single-user request (7 for a hybrid one, a
        4-job term search feeding pre_filter_ids), none of them while
        the DataFrame is built (segment relations, centroid tables and
        the tombstone mask are all resolved); the first request after a
        segment appears adds its listing, schema and centroid jobs. The
        query vector, the user list and the probed pairs are each one
        SQL text, so building the plan takes the same number of
        driver->JVM calls whatever the dimension or number of users."""
        from pyspark.sql.window import Window

        if num_probes is None:
            num_probes = k
        segs = self._indexed_segments("ivf", version)
        if not segs:
            return self.spark.createDataFrame([], "user_id long, id long, score double")
        idxs = {s: self.load_segment_index(s) for s in segs}
        metric = self.config.metric
        codebook = next(iter(idxs.values())).codebook

        users = [int(u) for u in user_ids]
        qv = [float(x) for x in query_vector]
        parts = []
        for s, ix in idxs.items():
            pairs = _probe(self._centroid_table(s, ix), users, qv, metric,
                           num_probes, centroid_distance_ratio)
            if pairs:
                probed = ", ".join(f"named_struct('user_id', {u}, 'centroid_id', {c})"
                                   for u, c in pairs)
                parts.append(ix.postings.filter(f"struct(user_id, centroid_id) IN ({probed})"))
        if not parts:  # nothing probed: an empty scan with the postings' schema
            parts = [next(iter(idxs.values())).postings.filter("false")]
        scan = parts[0]
        for p in parts[1:]:
            scan = scan.unionByName(p)
        scan = self._apply_tombstones(scan, users=users, id_col="id")
        if pre_filter_ids is not None:
            # a semi join never repeats a left row: no distinct needed
            scan = scan.join(pre_filter_ids.select("id"), on="id", how="left_semi")

        exact = distance_sql(metric, "CAST(vector AS ARRAY<DOUBLE>)", sql_array(qv))
        if codebook is not None:
            quant0 = next(iter(idxs.values())).quantizer
            if quant0 == "rabitq":
                from muopdb_spark.index.rabitq import rabitq_est_score

                adc = rabitq_est_score(query_vector, codebook)
            elif quant0 == "sq":
                from muopdb_spark.index.sq import sq_est_score_cols

                # authoritative per-user table lives at the collection
                # root (a per-segment copy may predate users added by
                # later segments' codebook extension); the swap-aware
                # read recovers a crashed mid-swap directory
                codebook = self._root_table("sq_codebook")
                scan = scan.join(F.broadcast(codebook), "user_id")
                adc = sq_est_score_cols(
                    query_vector, F.col("mins"), F.col("scales")
                )
            elif quant0 == "pq_user":
                from muopdb_spark.index.pq import (
                    collect_pq_books,
                    pq_adc_score_per_user,
                )

                # same authoritative-root contract as sq; only the
                # REQUESTED users' books are collected (driver cost
                # bounded by the request's user list)
                codebook = self._root_table("pq_codebook")
                books = collect_pq_books(codebook, users)
                adc = pq_adc_score_per_user(query_vector, books)
            elif quant0 == "opq_user":
                from muopdb_spark.index.opq import (
                    collect_opq_books,
                    opq_adc_score_per_user,
                )

                # same authoritative-root contract as sq/pq_user
                codebook = self._root_table("opq_codebook")
                books = collect_opq_books(codebook, users)
                adc = opq_adc_score_per_user(query_vector, books)
            elif quant0 == "opq":
                from muopdb_spark.index.opq import opq_adc_score

                adc = opq_adc_score(query_vector, codebook)
            else:
                from muopdb_spark.index.pq import pq_adc_score

                adc = pq_adc_score(query_vector, codebook)
            wu = Window.partitionBy("user_id").orderBy(
                F.col("adc").asc_nulls_last(), F.col("id").asc())
            cand = (
                scan.select("user_id", "id", "vector", adc.alias("adc"))
                .groupBy("user_id", "id").agg(
                    F.min("adc").alias("adc"), F.first("vector").alias("vector"))
                .withColumn("crnk", F.row_number().over(wu))
                .filter(F.col("crnk") <= (rerank if rerank is not None else k))
            )
            score = F.expr(exact) if rerank is not None else F.col("adc")
            if score_decimals is not None:
                score = F.round(score, score_decimals)
            deduped = cand.select("user_id", "id", score.alias("score"))
        else:
            if score_decimals is not None:
                exact = f"round({exact}, {int(score_decimals)})"
            deduped = (
                scan.selectExpr("user_id", "id", f"{exact} AS score")
                .groupBy("user_id", "id").agg(F.expr("min(score) AS score"))
            )
        if per_user:
            w = Window.partitionBy("user_id").orderBy(
                F.col("score").asc_nulls_last(), F.col("id").asc())
            return (
                deduped.withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") <= k)
                .select("user_id", "id", "score")
                .orderBy("user_id", F.col("score").asc_nulls_last(), "id")
            )
        return deduped.orderBy(F.col("score").asc_nulls_last(), F.col("id").asc()).limit(k)

    def _term_postings(self, segs: tuple[str, ...]) -> DataFrame:
        """The term indexes of `segs` as one (_seg, user_id, field, term,
        doc_id) relation of exploded postings, once per segment tuple. A
        request's filter on user_id, field and term is pushed below the
        explode into each segment's scan. The explode sits above the
        union, so a join on doc_id stays one join over all segments
        rather than one per segment."""
        def build():
            parts = [
                self._segment_table(s, os.path.join("index", "terms")).selectExpr(
                    f"{sql_string(s)} AS _seg", "user_id", "field", "term", "postings")
                for s in segs
            ]
            return functools.reduce(lambda a, b: a.unionByName(b), parts).selectExpr(
                "_seg", "user_id", "field", "term", "explode(postings) AS doc_id")

        return self._cached(("terms", segs), build)

    def _visible_ids(self, segs: tuple[str, ...]) -> DataFrame:
        """(_vseg, _vu, _vd): the segment, user and id of every doc row
        of `segs` that no tombstone masks, once per (segment tuple,
        tombstone listing)."""
        def build():
            parts = [
                self.segment_docs(s).selectExpr(
                    f"{sql_string(s)} AS _vseg", "user_id", "doc_id", "seq_no")
                for s in segs
            ]
            masked = self._apply_tombstones(functools.reduce(lambda a, b: a.unionByName(b), parts))
            return masked.selectExpr("_vseg", "user_id AS _vu", "doc_id AS _vd")

        files, _ = self._tomb_snapshot()
        return self._cached(("visible", segs), build, stamp=files)

    def term_search_indexed(self, user_ids, terms, limit: int, *, mode: str = "and",
                            version: int | None = None) -> DataFrame:
        """§3.2 TermSearch over the DURABLE per-segment term indexes
        (terms/writer.rs on-disk layout analog): filter the segments'
        exploded postings to the queried (field, term) pairs, keep the
        postings whose own segment still holds a live row of the doc,
        intersect (and: every distinct queried pair present, one
        aggregate) or union (or), sort + limit (snapshot.rs:141-146).

        Visibility is per segment, as the reference evaluates each
        segment's term iterator against that segment's own invalidated
        set: a doc removed and re-inserted into a newer segment matches
        only the terms of its new version."""
        from muopdb_spark.index.terms import combine_hits, match_terms

        segs = tuple(self._indexed_segments("terms", version))
        pairs, match = match_terms(terms)
        if not pairs:
            return self.spark.createDataFrame([], "doc_id long")
        users = [int(u) for u in user_ids]
        hits = self._term_postings(segs).filter(f"{sql_in('user_id', users)} AND ({match})")
        # a semi join never repeats a left row: no distinct on the ids
        hits = hits.join(
            self._visible_ids(segs).filter(sql_in("_vu", users)),
            F.expr("_seg = _vseg AND user_id = _vu AND doc_id = _vd"), "left_semi")
        hits = combine_hits(hits, ["user_id", "doc_id"], len(pairs), mode)
        return hits.orderBy("doc_id").limit(limit)

    def build_quantizer(self, num_subvectors: int = 4, num_centers: int = 16):
        """M5 / QuantizerType: train the collection's PQ codebook when
        config.quantizer == 'pq' (enums.rs:4-9 gates the same way)."""
        if self.config.quantizer != "pq":
            raise ValueError(
                f"collection quantizer is {self.config.quantizer!r}, not 'pq'"
            )
        from muopdb_spark.index.pq import train_pq

        return train_pq(
            self.docs(), vec_col="vector",
            num_subvectors=num_subvectors, num_centers=num_centers,
        )

    def search_pq(self, codebook, user_ids, query_vector, k) -> DataFrame:
        """PQ-scored search: encode the (user-pruned, tombstone-masked)
        docs and rank by asymmetric distance."""
        from muopdb_spark.index.pq import pq_encode, pq_search

        docs = self.docs()
        if user_ids is not None:
            docs = docs.filter(sql_in("user_id", user_ids))
        enc = pq_encode(docs, codebook, vec_col="vector")
        return pq_search(enc, query_vector, codebook, k, id_col="doc_id")
