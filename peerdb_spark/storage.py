"""Destination table storage over plain parquet.

The reference's destinations are real MERGE-capable engines; here the engine
owns its destination tables as parquet directories. The scale problem is
UPSERT: merge = read + join + rewrite, and rewriting 100 TB per batch is not
viable. Solution (mirrors what the reference's ClickHouse path gets from
`ORDER BY` sharding and what lakehouses get from clustering): destination
tables are hash-bucketed by primary key into `_peerdb_bucket=`N partitions.
A merge (`normalize.merge_into_table`) then:

1. observes the set of buckets the incoming batch touches on the job that
   checkpoints the deduplicated batch (an `Observation` over the bucket
   expression — no separate probe job). A batch of 250k rows touches
   ≤ n_buckets partitions, typically all, but a skewed or small batch
   touches few;
2. reads ONLY the files of those buckets;
3. writes the merged rows of those buckets and commits them as the new
   content of exactly those buckets (`ParquetTable.replace_partitions`), so
   a bucket whose merge result is empty is replaced too.

Per-batch cost is O(touched buckets / total buckets × table size), and both
sides of the merge join are already co-partitioned by bucket. With table-size
~100 TB and n_buckets sized so a bucket is a few GB, each bucket merge is an
independent task-sized unit — exactly the property a 1000-executor cluster
needs.

Commit point. A table's manifest, `_peerdb_buckets.json`, names every live
data file per leaf bucket (one list for an unbucketed table). Every write —
overwrite, append, replace_partitions, split_bucket — commits the same way,
the shape of the reference's one MERGE transaction per destination:

1. Spark writes the new rows to a staging dir beside the table;
2. the staged files move into their `_peerdb_bucket=<b>/` dirs under their
   unique Spark part names, which no manifest names yet;
3. one `os.replace` publishes the new manifest — the commit;
4. the files the new manifest dropped are deleted.

A crash before 3 leaves the old manifest in force, a crash after it the new
one; either way the only debris is a staging dir and data files no manifest
names. The next write sweeps both before it stages (one writer per table,
like the reference's one normalize per mirror). Reads resolve their files
from the manifest alone, so a read sees one committed state across every
bucket, and a read never writes. A directory an older version wrote (no
manifest, or the leaves-only manifest of a split table) is read from its
bucket directories; its first write publishes a full manifest. After a
completed write a plain `spark.read.parquet(path)` sees exactly the live rows.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_spark.registry import atomic_write

BUCKET_COL = "_peerdb_bucket"

# a directory's stored schema; underscore-prefixed, so parquet readers skip it
SCHEMA_FILE = "_peerdb_schema.json"
# a table's commit point: its live data files by leaf bucket
MANIFEST_FILE = "_peerdb_buckets.json"
# a write stages its rows at `<table path><STAGING_INFIX><id>`
STAGING_INFIX = ".staging-"

# live data files by leaf bucket id; key None holds an unbucketed table's list
Files = dict[int | None, list[str]]


def save_schema(dir_path: str, schema: T.StructType) -> None:
    os.makedirs(dir_path, exist_ok=True)
    atomic_write(os.path.join(dir_path, SCHEMA_FILE), schema.json())


def load_schema(dir_path: str) -> T.StructType | None:
    path = os.path.join(dir_path, SCHEMA_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return T.StructType.fromJson(json.load(f))


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None) -> DataFrame:
    """Parquet read with a stored schema; only a directory without one (as
    written by older versions) falls back to footer inference, which costs
    a Spark job per read."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def bucket_expr(pk_cols: list[str], n_buckets: int):
    """Deterministic pk-hash bucket (xxhash64 is JVM-side, codegen-friendly)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in pk_cols]), F.lit(n_buckets)).cast("int")


def _data_files(d: str) -> list[str]:
    return sorted(
        n for n in os.listdir(d) if n.endswith(".parquet") and not n.startswith((".", "_"))
    )


class ParquetTable:
    """A managed destination table: parquet dir, optionally pk-hash-bucketed.

    Every write commits by publishing the manifest, and every read takes its
    file list from it (module doc): reads are atomic across buckets and
    never write; the next write sweeps a crashed write's debris.

    Bucket ids use an extendible-hashing numbering so a bucket can SPLIT
    without rewriting any other bucket (round 9; the r8 cardinality probe
    showed per-batch merge cost growing with destination size under a
    static bucket count — the reference sidesteps this only by delegating
    to ClickHouse's background part merges, flow/connectors/clickhouse/
    normalize.go):

    - base level: id = hash mod N           (N = n_buckets; ids in [0, N))
    - level k>0:  id = M + (hash mod M), M = N·2^k   (ids in [M, 2M))

    Ranges are disjoint and (modulus, residue) is recoverable from the id
    alone. Splitting leaf (M, r) rewrites ONLY that bucket into children
    (2M, r) and (2M, r+M) — ids 2M+r and 3M+r — because hash ≡ r (mod M)
    partitions exactly into those two residues mod 2M (hash-prefix
    stability). The live leaf set is the manifest's key set, so a split
    commits its leaves and its files together.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        pk_cols: list[str] | None = None,
        n_buckets: int = 0,
        split_threshold_rows: int = 0,
    ):
        self.spark = spark
        self.path = path
        self.pk_cols = pk_cols or []
        self.n_buckets = n_buckets
        # >0 enables maybe_split(): a leaf bucket whose footer row count
        # exceeds this splits in two after a merge touches it
        self.split_threshold_rows = split_threshold_rows

    # -- helpers ----------------------------------------------------------
    @property
    def _bucketed(self) -> bool:
        return bool(self.n_buckets and self.pk_cols)

    def _load_schema(self) -> T.StructType | None:
        return load_schema(self.path)

    def _dir(self, bucket: int | None, root: str | None = None) -> str:
        root = self.path if root is None else root
        return root if bucket is None else os.path.join(root, f"{BUCKET_COL}={bucket}")

    # -- manifest ---------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST_FILE)

    def _files(self) -> Files:
        """The live data files of the last committed write. A table an older
        version wrote has no file list: every parquet file in a leaf bucket
        directory (or, unbucketed, in the table directory) is live."""
        m: dict = {}
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                m = json.load(f)
            if "files" in m:
                return {None: m["files"]}
            if "buckets" in m:
                return {int(b): fs for b, fs in m["buckets"].items()}
        names = os.listdir(self.path) if os.path.isdir(self.path) else []
        dirs = {int(n.split("=", 1)[1]) for n in names if n.startswith(f"{BUCKET_COL}=")}
        if not (dirs or self.n_buckets or "leaves" in m):
            return {None: _data_files(self.path)} if names else {}
        leaves = m.get("leaves", dirs | set(range(self.n_buckets)))
        return {b: _data_files(self._dir(b)) if b in dirs else [] for b in leaves}

    def leaf_buckets(self) -> list[int]:
        """Current leaf bucket ids; the base residues for a table not yet
        written."""
        return sorted(b for b in self._files() if b is not None) or list(range(self.n_buckets))

    def bucket_level(self, bucket_id: int) -> tuple[int, int]:
        """(modulus, residue) encoded by a bucket id (see class doc)."""
        if bucket_id < self.n_buckets:
            return (self.n_buckets, bucket_id)
        m = self.n_buckets
        while m * 2 <= bucket_id:
            m *= 2
        return (m, bucket_id - m)

    def assign_bucket_expr(self):
        """Leaf assignment for the CURRENT manifest: hash each pk once, then
        test the candidate id per live modulus (deepest first; a key matches
        the leaf set at exactly one modulus, base as fallback). For a
        never-split table this is exactly the static pmod expression. The
        per-modulus membership lists are driver-side literals — bounded by
        the leaf count, and Catalyst compiles large isin lists to a hash-set
        InSet, so the test stays O(1) per row at any bucket count."""
        assert self._bucketed, "bucketed table required"
        leaves = self.leaf_buckets()
        h = F.xxhash64(*[F.col(c) for c in self.pk_cols])
        base = F.pmod(h, F.lit(self.n_buckets)).cast("int")
        by_mod: dict[int, list[int]] = {}
        for b in leaves:
            m, _r = self.bucket_level(b)
            if m != self.n_buckets:
                by_mod.setdefault(m, []).append(b)
        expr = None
        for m in sorted(by_mod, reverse=True):
            cand = (F.pmod(h, F.lit(m)) + F.lit(m)).cast("int")
            cond = cand.isin(by_mod[m])
            expr = F.when(cond, cand) if expr is None else expr.when(cond, cand)
        return base if expr is None else expr.otherwise(base)

    # -- reads --------------------------------------------------------------
    @property
    def exists(self) -> bool:
        return any(self._files().values())

    def read(self) -> DataFrame:
        df = self.read_raw()
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df

    def read_raw(self) -> DataFrame:
        """Read including the bucket partition column (for pruned merges)."""
        return self._read(self._files())

    def read_buckets(self, buckets: list[int]) -> DataFrame:
        """Read of specific buckets: only their files are listed or opened."""
        files = self._files()
        return self._read({b: files.get(b, []) for b in buckets})

    def _read(self, files: Files) -> DataFrame:
        """Read the named files as explicit paths under `basePath`, so
        `_peerdb_bucket` comes from the directory name.

        The schema sidecar (written on every write, evolved in place by
        schema_evolution.apply_delta) is the REQUESTED read schema: no
        inference job, files written before an add-column delta surface
        NULL for it, and pre-widening files upcast to the widened type.
        Inferring instead would take the schema of whichever footer Spark
        samples — after a delta that can be a pre-delta file, and the
        column then vanishes from reads and from the next merge's rewrite
        of its bucket. Only a legacy table without a sidecar is inferred."""
        schema = self._load_schema()
        paths = [os.path.join(self._dir(b), f) for b, fs in files.items() for f in fs]
        if not paths:
            # a table whose rows were all deleted still reads as empty with
            # its last known schema
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            return read_parquet(self.spark, self.path, None)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.option("basePath", self.path).parquet(*paths)

    def files_per_bucket(self) -> dict[int, int]:
        """Parquet data-file count per non-empty bucket (ops metric; drives
        compaction)."""
        return {b: len(fs) for b, fs in self._files().items() if b is not None and fs}

    def rows_per_bucket(self, buckets: list[int] | None = None) -> dict[int, int]:
        """Row count per non-empty bucket from parquet FOOTER metadata only —
        no data read, no Spark job; this is what makes the split check
        affordable after every merge (a footer stat is O(files), and merges
        leave one file per touched bucket)."""
        import pyarrow.parquet as pq

        want = None if buckets is None else {int(b) for b in buckets}
        return {
            b: sum(pq.ParquetFile(os.path.join(self._dir(b), f)).metadata.num_rows for f in fs)
            for b, fs in self._files().items()
            if b is not None and fs and (want is None or b in want)
        }

    # -- the one write path -------------------------------------------------
    def _commit(self, df: DataFrame | None, update: Callable[[Files, Files], Files]) -> None:
        """Commit one write (module doc): stage df, move in the staged files
        `update(live, staged)` keeps, publish its result as the manifest,
        delete what the old manifest named and the new one does not."""
        live = self._files()
        self._sweep(live)
        if not self._listed():
            # a table an older version wrote (or none yet): name its files
            # before any new file lands in a directory readers list
            self._publish(live or {b: [] for b in self._keys()})
        staging, staged = None, {}
        if df is not None:
            staging = f"{self.path}{STAGING_INFIX}{uuid.uuid4().hex[:8]}"
            w = df.write.mode("overwrite")
            if self._bucketed:
                w.partitionBy(BUCKET_COL).parquet(staging)
                staged = {
                    int(n.split("=", 1)[1]): _data_files(os.path.join(staging, n))
                    for n in os.listdir(staging) if n.startswith(f"{BUCKET_COL}=")
                }
            else:
                w.parquet(staging)
                staged = {None: _data_files(staging)}
        new = update(live, staged)
        for b, fs in staged.items():
            keep = set(fs) & set(new.get(b, ()))
            if keep:
                os.makedirs(self._dir(b), exist_ok=True)
            for f in sorted(keep):
                os.rename(os.path.join(self._dir(b, staging), f), os.path.join(self._dir(b), f))
        if df is not None:
            save_schema(self.path, df.schema)
        self._publish(new)  # COMMIT
        self._drop(live, new)
        if staging is not None:
            shutil.rmtree(staging)

    def _listed(self) -> bool:
        """Whether the manifest names files (older versions wrote none, or
        only the leaf ids of a split table)."""
        if not os.path.exists(self._manifest_path):
            return False
        with open(self._manifest_path) as f:
            return "leaves" not in json.load(f)

    def _publish(self, files: Files) -> None:
        body = (
            {"files": files[None]} if None in files
            else {"base": self.n_buckets, "buckets": {str(b): files[b] for b in sorted(files)}}
        )
        os.makedirs(self.path, exist_ok=True)
        atomic_write(self._manifest_path, json.dumps(body))

    def _drop(self, old: Files, live: Files) -> None:
        """Delete the files of `old` that `live` does not name; a bucket
        `live` does not have goes with its directory."""
        for b, fs in old.items():
            if b is not None and b not in live:
                shutil.rmtree(self._dir(b), ignore_errors=True)
                continue
            for f in set(fs) - set(live.get(b, ())):
                os.remove(os.path.join(self._dir(b), f))

    def _sweep(self, live: Files) -> None:
        """Writer-side recovery: remove staging dirs and every data file or
        bucket dir the manifest does not name — the debris of a write that
        crashed before or after its commit. Reads never call this."""
        parent, base = os.path.split(self.path)
        parent = parent or "."
        if os.path.isdir(parent):
            for n in os.listdir(parent):
                if n.startswith(base + STAGING_INFIX):
                    shutil.rmtree(os.path.join(parent, n))
        if not os.path.isdir(self.path):
            return
        found: Files = {}
        for n in os.listdir(self.path):
            if n.startswith(f"{BUCKET_COL}="):
                found[int(n.split("=", 1)[1])] = os.listdir(os.path.join(self.path, n))
            elif n not in (MANIFEST_FILE, SCHEMA_FILE) and os.path.isfile(
                os.path.join(self.path, n)
            ):
                found.setdefault(None, []).append(n)
        self._drop(found, live)

    # -- write modes ------------------------------------------------------
    def _with_bucket(self, df: DataFrame) -> DataFrame:
        if self._bucketed:
            out = df.withColumn(BUCKET_COL, self.assign_bucket_expr())
            # Cluster rows by their bucket BEFORE the partitionBy write:
            # without this every upstream task holds rows of every bucket and
            # the dynamic-partition writer emits tasks × buckets files (at
            # 1000 executors × 10k buckets that is 10M files per batch and a
            # per-task sort across all buckets). One hash exchange on the
            # bucket value — the same order of bytes as the write itself —
            # yields one file per bucket per write.
            return out.repartition(max(self.n_buckets, len(self.leaf_buckets())),
                                   F.col(BUCKET_COL))
        return df

    def _keys(self) -> list[int | None]:
        return self.leaf_buckets() if self._bucketed else [None]

    def overwrite(self, df: DataFrame) -> None:
        """Full replace. Safe when df's plan lazily reads this very table
        (read-modify-overwrite is a common caller pattern): the old files
        are deleted only after df is staged and the manifest names the new
        ones. A split table keeps its leaves: rows are assigned by them."""
        keys = self._keys()
        self._commit(self._with_bucket(df), lambda live, new: {b: new.get(b, []) for b in keys})

    def append(self, df: DataFrame) -> None:
        keys = self._keys()
        self._commit(
            self._with_bucket(df),
            lambda live, new: {b: live.get(b, []) + new.get(b, []) for b in keys},
        )

    def replace_partitions(self, df: DataFrame, buckets: list[int]) -> None:
        """Replace exactly the given bucket partitions with df's content
        (df carries `_peerdb_bucket`; its rows of other buckets are
        dropped). A bucket df has no rows for is replaced by nothing, which
        is how a merge that deletes every row of a bucket takes effect. df
        may lazily read the buckets it replaces: it is staged before the
        commit."""
        assert self._bucketed, "bucketed table required"
        self._commit(df, lambda live, new: {**live, **{b: new.get(b, []) for b in buckets}})

    def split_bucket(self, parent: int) -> tuple[int, int]:
        """Split leaf bucket `parent` into its two extendible-hashing
        children, rewriting ONLY that bucket (hash-prefix stability: every
        row of (M, r) lands in (2M, r) or (2M, r+M) — ids 2M+r / 3M+r).
        One commit swaps the parent for both children in the manifest, leaf
        ids and files together; a leaf with no rows splits by the manifest
        write alone. Child ids are unique table-wide and a parent can split
        at most once ever."""
        assert self._bucketed, "bucketed table required"
        m, r = self.bucket_level(parent)
        c1, c2 = 2 * m + r, 3 * m + r
        files = self._files()
        assert parent in files, f"bucket {parent} is not a leaf"
        rows = None
        if files[parent]:
            h = F.xxhash64(*[F.col(c) for c in self.pk_cols])
            child = (F.pmod(h, F.lit(2 * m)) + F.lit(2 * m)).cast("int")
            rows = (
                self._read({parent: files[parent]})
                .withColumn(BUCKET_COL, child)
                .repartition(2, F.col(BUCKET_COL))
            )

        def update(live: Files, new: Files) -> Files:
            out = {b: fs for b, fs in live.items() if b != parent}
            return {**out, c1: new.get(c1, []), c2: new.get(c2, [])}

        self._commit(rows, update)
        return (c1, c2)

    def split_candidates(self, candidates: list[int] | None = None) -> list[int]:
        """Leaf buckets whose footer row count exceeds their (jittered)
        split threshold — the exact set maybe_split would split. One footer
        scan; callers that must act BEFORE splitting (normalize's
        return_images snapshot) share this check instead of re-deriving it."""
        if not (self._bucketed and self.split_threshold_rows):
            return []
        counts = self.rows_per_bucket(candidates)
        out: list[int] = []
        for b in sorted(counts):
            # deterministic per-bucket jitter (+0..49%): under uniform key
            # growth every bucket crosses a FLAT threshold in the same batch
            # and that batch pays a full-table rewrite (the r9 probe measured
            # 71 s vs a 25-35 s steady state). Staggered thresholds spread
            # the splits over ~1.5x of growth — same asymptotics, no herd.
            thr = self.split_threshold_rows * (100 + (b * 37) % 50) // 100
            if counts[b] > thr:
                out.append(b)
        return out

    def maybe_split(self, candidates: list[int] | None = None) -> list[tuple[int, int, int]]:
        """Split every leaf bucket whose footer row count exceeds its
        jittered threshold (no-op when the threshold is 0/unset). One split
        per oversized leaf per call — linear-hashing-style gradual growth,
        so per-batch work stays bounded; a child still above the threshold
        splits when a later batch touches it. Restricting to `candidates`
        (the buckets a merge just touched) keeps the footer scan
        O(touched). Returns [(parent, child1, child2), ...]."""
        done: list[tuple[int, int, int]] = []
        for b in self.split_candidates(candidates):
            c1, c2 = self.split_bucket(b)
            done.append((b, c1, c2))
        return done

    def compact(self, max_files_per_bucket: int = 1) -> dict:
        """Small-file compaction — the analogue of ClickHouse's background
        merges for a ReplacingMergeTree destination (the reference defers
        dedup/layout work to those merges; here every per-batch append adds a
        file per touched bucket, and a long-running mirror accumulates them).

        Rewrites every bucket holding more than `max_files_per_bucket` data
        files down to one file per bucket, committed like any other write
        (replace_partitions): a crash mid-compaction leaves the
        pre-compaction files in force, and untouched buckets are never read
        or rewritten. Returns {"buckets_compacted": n, "files_before": m}.
        """
        assert self._bucketed, "bucketed table required"
        counts = self.files_per_bucket()
        need = sorted(b for b, n in counts.items() if n > max_files_per_bucket)
        if not need:
            return {"buckets_compacted": 0, "files_before": sum(counts.values())}
        sub = self.read_buckets(need).repartition(len(need), F.col(BUCKET_COL))
        self.replace_partitions(sub, need)
        return {
            "buckets_compacted": len(need),
            "files_before": sum(counts[b] for b in need),
        }
