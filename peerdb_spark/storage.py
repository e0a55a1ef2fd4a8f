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
2. reads ONLY those partitions (directory-partition pruning — Spark prunes
   on `_peerdb_bucket` before touching any file);
3. writes the merged rows of those buckets to a staging directory, then
   swaps each touched bucket directory in (`ParquetTable.replace_partitions`:
   park the old directory, move the staged one in, drop the parked one), so
   a bucket whose merge result is empty is replaced too.

Per-batch cost is O(touched buckets / total buckets × table size), and both
sides of the merge join are already co-partitioned by bucket. With table-size
~100 TB and n_buckets sized so a bucket is a few GB, each bucket merge is an
independent task-sized unit — exactly the property a 1000-executor cluster
needs.

Read visibility: each bucket swap is atomic (two renames, crash-repairable —
fault-injection-swept in tests), but a reader scanning DURING a multi-bucket
replace can observe bucket A post-batch while bucket B is still pre-batch.
That matches the reference's ClickHouse destination (parts become visible as
they merge; only single-statement reads of one part are atomic) — per-ROW
states are always consistent (a pk lives in exactly one bucket). Readers
needing a cross-bucket-atomic view read a VERSIONED table instead
(mview.MviewTable / rollup.RollupTable publish whole snapshots behind one
pointer); wiring that manifest protocol under ParquetTable is the upgrade
path if a deployment needs MVCC-style reads of the raw mirror.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUCKET_COL = "_peerdb_bucket"

# A writer lease older than this is presumed dead even if the pid check is
# inconclusive (e.g. pid recycled). Normal batches finish in seconds; an hour
# of silence means the writer is gone and readers may roll its crash forward.
LEASE_STALE_SECONDS = 3600.0


# a directory's stored schema; underscore-prefixed, so parquet readers skip it
SCHEMA_FILE = "_peerdb_schema.json"


def save_schema(dir_path: str, schema: T.StructType) -> None:
    os.makedirs(dir_path, exist_ok=True)
    path = os.path.join(dir_path, SCHEMA_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(schema.json())
    os.replace(tmp, path)  # atomic publish (no torn sidecar)


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


class ParquetTable:
    """A managed destination table: parquet dir, optionally pk-hash-bucketed.

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
    stability). The live leaf set is persisted in `_peerdb_buckets.json`;
    a table that never splits reads/writes identically to the pre-split
    format (manifest defaults to the base residues), so legacy tables need
    no migration.
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
    def _schema_path(self) -> str:
        return os.path.join(self.path, SCHEMA_FILE)

    def _save_schema(self, df: DataFrame) -> None:
        save_schema(self.path, df.schema)

    def _load_schema(self) -> T.StructType | None:
        return load_schema(self.path)

    # -- bucket manifest (extendible-hashing leaf set) ----------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_peerdb_buckets.json")

    def leaf_buckets(self) -> list[int]:
        """Current leaf bucket ids. Defaults to the base residues for a
        never-split (or legacy) table — identical behavior to the static
        scheme, no migration."""
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return list(json.load(f)["leaves"])
        return list(range(self.n_buckets))

    def _save_leaves(self, leaves: list[int]) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(json.dumps({"base": self.n_buckets, "leaves": sorted(leaves)}))
        os.replace(tmp, self._manifest_path)  # atomic publish

    def _commit_split_manifest(self, parent: int, children: tuple[int, int]) -> None:
        """Swap parent leaf for its children — idempotent (repair re-runs it
        on roll-forward)."""
        leaves = set(self.leaf_buckets())
        if parent in leaves or not set(children) <= leaves:
            leaves.discard(parent)
            leaves.update(children)
            self._save_leaves(sorted(leaves))

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
        assert self.n_buckets and self.pk_cols, "bucketed table required"
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

    # -- writer lease ------------------------------------------------------
    # repair() is destructive (it rmtree's staging dirs and moves parked
    # bucket dirs). A reader that repairs while another process's overwrite /
    # replace_partitions is mid-flight would destroy the writer's in-progress
    # state. Writers therefore hold a lease file while their markers are
    # live; read paths repair only when no live writer holds the lease.
    @property
    def _lease_path(self) -> str:
        return self.path + ".writer-lease"

    def _acquire_lease(self) -> None:
        parent = os.path.dirname(self.path) or "."
        os.makedirs(parent, exist_ok=True)
        tmp = self._lease_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"{os.getpid()} {time.time()}")
        os.replace(tmp, self._lease_path)

    def _release_lease(self) -> None:
        try:
            os.remove(self._lease_path)
        except FileNotFoundError:
            pass

    def _writer_alive(self) -> bool:
        try:
            with open(self._lease_path) as f:
                pid_s, ts_s = f.read().split()
            pid, ts = int(pid_s), float(ts_s)
        except (FileNotFoundError, ValueError, OSError):
            return False
        if time.time() - ts > LEASE_STALE_SECONDS:
            return False
        if pid == os.getpid():
            return True  # our own (threaded) writer; single-writer-per-table
        try:
            os.kill(pid, 0)
            return True
        except ProcessLookupError:
            return False  # dead writer: its crash state is ours to repair
        except PermissionError:
            return True  # pid exists under another uid — alive

    def _repair_if_safe(self) -> None:
        """Read-path repair: roll a DEAD writer's crash forward/back, but
        never touch a live writer's in-flight staging/parked dirs."""
        if not self._writer_alive():
            self.repair()

    @property
    def exists(self) -> bool:
        # a crash-parked table must count as existing (callers branch to
        # BOOTSTRAP on not-exists, which would discard the restorable state)
        self._repair_if_safe()
        if not os.path.isdir(self.path):
            return False
        for root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        if self.n_buckets and self.pk_cols:
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

    def read(self) -> DataFrame:
        df = self.read_raw()
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df

    def read_raw(self) -> DataFrame:
        """Read including the bucket partition column (for pruned merges).

        The schema sidecar (written on every write, evolved in place by
        schema_evolution.apply_delta) is the REQUESTED read schema: no
        inference job, files written before an add-column delta surface
        NULL for it, and pre-widening files upcast to the widened type.
        Inferring instead would take the schema of whichever footer Spark
        samples — after a delta that can be a pre-delta file, and the
        column then vanishes from reads and from the next merge's rewrite
        of its bucket. Only a legacy table without a sidecar is inferred."""
        self._repair_if_safe()  # a reader after a CRASH sees restored buckets
        schema = self._load_schema()
        if not self.exists:
            # a table whose rows were all deleted still reads as empty with
            # its last known schema
            if schema is not None:
                return self.spark.createDataFrame([], schema)
        return read_parquet(self.spark, self.path, schema)

    # -- write modes ------------------------------------------------------
    def overwrite(self, df: DataFrame) -> None:
        """Full replace via stage-then-swap: safe even when df's plan lazily
        reads this very table (read-modify-overwrite is a common caller
        pattern and Spark's overwrite truncates before executing the read).
        Crash-safe: the pre-overwrite state is parked at a marker dir until
        the staged state is promoted — repair() rolls either way."""
        import shutil
        import uuid

        self._acquire_lease()
        try:
            self.repair()
            # _with_bucket assigns by the CURRENT manifest's leaves — the
            # manifest lives inside the table dir, so the promote below
            # would silently drop it and every later merge would route pks
            # back to base buckets while the rows sit in split-leaf dirs
            # (duplicate/resurrected keys). Carry it across the swap.
            leaves = self.leaf_buckets() if (self.n_buckets and self.pk_cols) else None
            had_manifest = os.path.exists(self._manifest_path)
            out = self._with_bucket(df)
            staging = f"{self.path}.staging-{uuid.uuid4().hex[:8]}"
            w = out.write.mode("overwrite")
            if self.n_buckets and self.pk_cols:
                w = w.partitionBy(BUCKET_COL)
            w.parquet(staging)
            parked = f"{self.path}.overwrite-old-{uuid.uuid4().hex[:8]}"
            if os.path.isdir(self.path):
                os.rename(self.path, parked)
            os.rename(staging, self.path)
            if had_manifest:
                self._save_leaves(leaves)
            shutil.rmtree(parked, ignore_errors=True)
            self._save_schema(out)
        finally:
            # released on exception too: the writer is alive to retry, and a
            # reader's repair rolls the aborted attempt back cleanly. Process
            # DEATH leaves the lease; the pid check then lets readers repair.
            self._release_lease()

    def append(self, df: DataFrame) -> None:
        out = self._with_bucket(df)
        w = out.write.mode("append")
        if self.n_buckets and self.pk_cols:
            w = w.partitionBy(BUCKET_COL)
        w.parquet(self.path)
        self._save_schema(out)

    def repair(self) -> None:
        """Roll interrupted writes forward or back (crash recovery).

        Two protocols leave breadcrumbs, both idempotent to repair and
        O(#leftovers); called before every read and destructive write:

        1. Full overwrite parks the whole table dir at `<path>.overwrite-old-*`
           before promoting the staged dir. Leftover marker + missing table →
           promote a COMPLETE staging (`_SUCCESS` present — it was fully
           written before the park happened) or, failing that, restore the
           parked pre-overwrite state.
        2. replace_partitions parks each old bucket dir at `.swap-old-<bucket>`
           inside the table (dot-prefixed → invisible to Spark's partition
           discovery) before moving the staged replacement in. Marker with the
           target bucket missing → the swap died between park and move; the
           parked dir is the authoritative pre-batch state — restore it (the
           batch's idempotent normalize re-run then redoes the merge). Target
           present → swap completed, drop the marker.

        Orphaned staging dirs are swept last (never before the overwrite
        decision — a complete staging may BE the newest committed state).
        """
        import shutil

        parent = os.path.dirname(self.path) or "."
        base = os.path.basename(self.path)
        if os.path.isdir(parent):
            parked_ovw = sorted(
                n for n in os.listdir(parent) if n.startswith(f"{base}.overwrite-old-")
            )
            stagings = sorted(
                n for n in os.listdir(parent) if n.startswith(f"{base}.staging-")
            )
            if parked_ovw and not os.path.isdir(self.path):
                complete = [
                    s for s in stagings
                    if os.path.exists(os.path.join(parent, s, "_SUCCESS"))
                ]
                if complete:
                    os.rename(os.path.join(parent, complete[0]), self.path)
                    stagings.remove(complete[0])
                    # staged dirs are raw Spark writes with no schema sidecar,
                    # and the parked pre-overwrite dir (which holds the old
                    # one) is about to be dropped — re-derive the sidecar from
                    # the promoted footers so an all-rows-deleted table keeps
                    # its empty-read schema fallback. Footer-only read: cheap.
                    if not os.path.exists(self._schema_path):
                        try:
                            promoted = self.spark.read.parquet(self.path)
                            self._save_schema(promoted)
                        except Exception:
                            for n in parked_ovw:  # fallback: pre-crash sidecar
                                old_sc = os.path.join(
                                    parent, n, os.path.basename(self._schema_path)
                                )
                                if os.path.exists(old_sc):
                                    shutil.copy(old_sc, self._schema_path)
                                    break
                else:
                    os.rename(os.path.join(parent, parked_ovw[0]), self.path)
                    parked_ovw = parked_ovw[1:]
            if os.path.isdir(self.path):
                # a promoted staging carries no bucket manifest, but its rows
                # were assigned by the pre-crash manifest's leaves — restore
                # it from the parked dir before dropping (same reasoning as
                # the schema sidecar above; without it a previously split
                # table silently reverts to base-bucket routing)
                if not os.path.exists(self._manifest_path):
                    mname = os.path.basename(self._manifest_path)
                    for n in parked_ovw:
                        old_mf = os.path.join(parent, n, mname)
                        if os.path.exists(old_mf):
                            shutil.copy(old_mf, self._manifest_path)
                            break
                for n in parked_ovw:
                    shutil.rmtree(os.path.join(parent, n), ignore_errors=True)
            for n in stagings:
                shutil.rmtree(os.path.join(parent, n), ignore_errors=True)
        if not os.path.isdir(self.path):
            return
        # 3. bucket splits: the commit point is the parent-dir rename, so a
        #    `.split-pending-<parent>.json` marker with the parent dir still
        #    PRESENT means uncommitted — remove any dot-staged child dirs
        #    (their rows are still in the parent) and forget the attempt;
        #    parent ABSENT means committed — finish the child renames, re-run
        #    the (idempotent) manifest swap and drop the leftovers. A parked
        #    dir with no marker is a fully completed split's final-rmtree
        #    leftover.
        for name in sorted(os.listdir(self.path)):
            if not (name.startswith(".split-pending-") and name.endswith(".json")):
                continue
            marker = os.path.join(self.path, name)
            try:
                with open(marker) as f:
                    info = json.load(f)
                parent, children = int(info["parent"]), [int(c) for c in info["children"]]
            except (ValueError, KeyError, OSError):
                os.remove(marker)  # torn marker: pre-publish tmp can't exist
                continue
            pdir = os.path.join(self.path, f"{BUCKET_COL}={parent}")
            if os.path.isdir(pdir):
                for c in children:
                    shutil.rmtree(
                        os.path.join(self.path, f".split-in-{BUCKET_COL}={c}"),
                        ignore_errors=True,
                    )
            else:
                for c in children:
                    hidden = os.path.join(self.path, f".split-in-{BUCKET_COL}={c}")
                    if os.path.isdir(hidden):
                        os.rename(
                            hidden, os.path.join(self.path, f"{BUCKET_COL}={c}")
                        )
                self._commit_split_manifest(parent, (children[0], children[1]))
            os.remove(marker)
            shutil.rmtree(
                os.path.join(self.path, f".split-parked-{parent}"), ignore_errors=True
            )
        for name in sorted(os.listdir(self.path)):
            if name.startswith(".split-parked-"):
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        for name in os.listdir(self.path):
            if not name.startswith(".swap-old-"):
                continue
            orig = name[len(".swap-old-"):]
            parked = os.path.join(self.path, name)
            target = os.path.join(self.path, orig)
            if os.path.isdir(target):
                shutil.rmtree(parked, ignore_errors=True)
            else:
                os.rename(parked, target)

    def files_per_bucket(self) -> dict[int, int]:
        """Parquet data-file count per bucket partition (ops metric; drives
        compaction)."""
        out: dict[int, int] = {}
        if not os.path.isdir(self.path):
            return out
        for name in os.listdir(self.path):
            if not name.startswith(f"{BUCKET_COL}="):
                continue
            b = int(name.split("=", 1)[1])
            d = os.path.join(self.path, name)
            out[b] = sum(
                1 for f in os.listdir(d) if f.endswith(".parquet") or f.startswith("part-")
            )
        return out

    def rows_per_bucket(self, buckets: list[int] | None = None) -> dict[int, int]:
        """Row count per bucket from parquet FOOTER metadata only — no data
        read, no Spark job; this is what makes the split check affordable
        after every merge (a footer stat is O(files), and merges leave one
        file per touched bucket)."""
        import pyarrow.parquet as pq

        want = None if buckets is None else {int(b) for b in buckets}
        out: dict[int, int] = {}
        if not os.path.isdir(self.path):
            return out
        for name in os.listdir(self.path):
            if not name.startswith(f"{BUCKET_COL}="):
                continue
            b = int(name.split("=", 1)[1])
            if want is not None and b not in want:
                continue
            d = os.path.join(self.path, name)
            n = 0
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    try:
                        n += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                    except Exception:  # noqa: BLE001 — footer unreadable: count as 0
                        pass
            out[b] = n
        return out

    def split_bucket(self, parent: int) -> tuple[int, int]:
        """Split leaf bucket `parent` into its two extendible-hashing
        children, rewriting ONLY that bucket (hash-prefix stability: every
        row of (M, r) lands in (2M, r) or (2M, r+M) — ids 2M+r / 3M+r).

        Crash-safe; the COMMIT POINT is the atomic rename that parks the
        parent dir:
          1. stage the parent's rows repartitioned to the two child ids
          2. publish a `.split-pending-<parent>.json` marker (children ids)
          3. move staged child dirs into the table under DOT-PREFIXED names
             `.split-in-<bucket>=<id>` — invisible to Spark's partition
             discovery, so a concurrent reader (the writer holds the lease,
             so readers do NOT repair) never sees parent and children rows
             at once (0-2 dirs; an empty child has no dir — the manifest,
             not the dirs, is what assigns keys)
          4. rename parent dir -> `.split-parked-<parent>`  [COMMIT]
          5. rename dot-staged children to their final partition names
          6. swap parent for children in the manifest (idempotent)
          7. drop marker, parked dir, staging
        Readers between 4 and 5 can miss the split bucket's rows — the same
        transient-hide window replace_partitions already has (module doc:
        per-bucket atomicity), never a duplicate. repair() rolls a marker
        with the parent dir PRESENT back (dot-staged children removed —
        their rows still live in the parent) and a marker with the parent
        ABSENT forward (remaining dot-children renamed, manifest commit
        re-run). Child ids are unique table-wide and a parent can split at
        most once ever, so rollback can never delete committed data."""
        assert self.n_buckets and self.pk_cols, "bucketed table required"
        import shutil
        import uuid

        m, r = self.bucket_level(parent)
        c1, c2 = 2 * m + r, 3 * m + r
        self._acquire_lease()
        try:
            self.repair()
            assert parent in set(self.leaf_buckets()), f"bucket {parent} is not a leaf"
            pdir = os.path.join(self.path, f"{BUCKET_COL}={parent}")
            if not os.path.isdir(pdir):
                # leaf with no rows: manifest-only split (single atomic write)
                self._commit_split_manifest(parent, (c1, c2))
                return (c1, c2)
            h = F.xxhash64(*[F.col(c) for c in self.pk_cols])
            child = (F.pmod(h, F.lit(2 * m)) + F.lit(2 * m)).cast("int")
            # the bucket dir holds data columns only (the bucket id is its
            # directory name)
            schema = self._load_schema()
            if schema is not None:
                schema = T.StructType([f for f in schema.fields if f.name != BUCKET_COL])
            staged = (
                read_parquet(self.spark, pdir, schema)
                .withColumn(BUCKET_COL, child)
                .repartition(2, F.col(BUCKET_COL))
            )
            staging = f"{self.path}.staging-{uuid.uuid4().hex[:8]}"
            staged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging)
            marker = os.path.join(self.path, f".split-pending-{parent}.json")
            tmp = marker + ".tmp"
            with open(tmp, "w") as f:
                f.write(json.dumps({"parent": parent, "children": [c1, c2]}))
            os.replace(tmp, marker)
            try:
                for c in (c1, c2):
                    src = os.path.join(staging, f"{BUCKET_COL}={c}")
                    dst = os.path.join(self.path, f".split-in-{BUCKET_COL}={c}")
                    if os.path.isdir(src):
                        shutil.move(src, dst)
                parked = os.path.join(self.path, f".split-parked-{parent}")
                os.rename(pdir, parked)  # COMMIT
            finally:
                shutil.rmtree(staging, ignore_errors=True)
            for c in (c1, c2):
                hidden = os.path.join(self.path, f".split-in-{BUCKET_COL}={c}")
                if os.path.isdir(hidden):
                    os.rename(hidden, os.path.join(self.path, f"{BUCKET_COL}={c}"))
            self._commit_split_manifest(parent, (c1, c2))
            os.remove(marker)
            shutil.rmtree(parked, ignore_errors=True)
        finally:
            self._release_lease()
        return (c1, c2)

    def split_candidates(self, candidates: list[int] | None = None) -> list[int]:
        """Leaf buckets whose footer row count exceeds their (jittered)
        split threshold — the exact set maybe_split would split. One footer
        scan; callers that must act BEFORE splitting (normalize's
        return_images snapshot) share this check instead of re-deriving it."""
        if not (self.n_buckets and self.pk_cols and self.split_threshold_rows):
            return []
        counts = self.rows_per_bucket(candidates)
        leaves = set(self.leaf_buckets())
        out: list[int] = []
        for b in sorted(counts):
            # deterministic per-bucket jitter (+0..49%): under uniform key
            # growth every bucket crosses a FLAT threshold in the same batch
            # and that batch pays a full-table rewrite (the r9 probe measured
            # 71 s vs a 25-35 s steady state). Staggered thresholds spread
            # the splits over ~1.5x of growth — same asymptotics, no herd.
            thr = self.split_threshold_rows * (100 + (b * 37) % 50) // 100
            if b in leaves and counts[b] > thr:
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
        files down to one file per bucket, through the same crash-safe
        park-and-swap used by batch merges (replace_partitions) — a crash
        mid-compaction rolls back to the pre-compaction buckets, and
        untouched buckets are never read or rewritten. Returns
        {"buckets_compacted": n, "files_before": m}.
        """
        assert self.n_buckets and self.pk_cols, "bucketed table required"
        counts = self.files_per_bucket()
        need = sorted(b for b, n in counts.items() if n > max_files_per_bucket)
        if not need:
            return {"buckets_compacted": 0, "files_before": sum(counts.values())}
        sub = (
            self.read_raw()
            .where(F.col(BUCKET_COL).isin([int(b) for b in need]))
            .repartition(len(need), F.col(BUCKET_COL))
        )
        self.replace_partitions(sub, need)
        return {
            "buckets_compacted": len(need),
            "files_before": sum(counts[b] for b in need),
        }

    def replace_partitions(self, df: DataFrame, buckets: list[int]) -> None:
        """Replace exactly the given bucket partitions with df's content.

        Dynamic partition overwrite alone is insufficient: a bucket whose merge
        result is EMPTY (all rows deleted) would never be rewritten and stale
        rows would survive. So each touched bucket is swapped: park the old
        dir at a dot-prefixed marker, move the staged dir in, drop the marker.
        Single-writer semantics (same as the reference's one normalize per
        mirror); any crash window is repairable — the staged output is fully
        materialized before the first swap, the park/move pair is two renames,
        and repair() rolls an interrupted swap back to the pre-batch state so
        re-running the idempotent normalize converges. (The old clear-then-move
        sequence could LOSE a bucket: a crash after the clear left neither the
        old rows nor the staged ones.)
        """
        assert self.n_buckets and self.pk_cols, "bucketed table required"
        import shutil
        import uuid

        self._acquire_lease()
        try:
            self.repair()
            # df lazily reads the very files being replaced — materialize to a
            # staging dir first, then swap bucket directories into place.
            staging = f"{self.path}.staging-{uuid.uuid4().hex[:8]}"
            df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging)
            try:
                for b in buckets:
                    dst = os.path.join(self.path, f"{BUCKET_COL}={b}")
                    src = os.path.join(staging, f"{BUCKET_COL}={b}")
                    parked = os.path.join(self.path, f".swap-old-{BUCKET_COL}={b}")
                    if os.path.isdir(parked):  # leftover from a completed swap
                        shutil.rmtree(parked)
                    if os.path.isdir(dst):
                        os.rename(dst, parked)
                    if os.path.isdir(src):
                        shutil.move(src, dst)
                    shutil.rmtree(parked, ignore_errors=True)
            finally:
                shutil.rmtree(staging, ignore_errors=True)
            self._save_schema(df)
        finally:
            self._release_lease()

    def read_buckets(self, buckets: list[int]) -> DataFrame:
        """Partition-pruned read of specific buckets (no file IO outside them)."""
        return self.read_raw().where(F.col(BUCKET_COL).isin(buckets))
