"""Transaction-log merge sink: a lakehouse-style table on plain parquet.

The engine's one merge sink. It replaces the reference's JDBC upsert sink
(S9) and COPY bulk load (S10): the reference's per-batch upsert (batch.size
3000, connectors/sinks/postgres/performance.json:30) maps to one
``apply()``, the bulk load to one ``overwrite()``. The table follows the
design Delta Lake and Iceberg made standard (public format specs; no
Delta/Iceberg jars exist in this environment, so the log protocol is
implemented directly):

- **Data files are immutable and never move.** Each commit writes its new
  base files under ``data/<commit-uuid>/__bucket=<b>/`` and leaves every
  other file in place. A merge-on-read delta commit writes one file per
  partition of its batch (one for a small trigger),
  ``data/<commit-uuid>/<file>``, rows sorted by bucket; each ``add``
  records its file's bucket set (``"buckets": [...]``) where a base file
  records its one ``"bucket"``. Deltas of the older one-file-per-bucket
  layout (an int ``bucket``) load as one-bucket sets.
- **The table state is the log, not the directory tree.** ``_log/<v>.json``
  holds newline-JSON actions (``metaData`` / ``add`` / ``remove`` /
  ``commitInfo``). A snapshot is "replay the log": the set of added-but-not-
  removed files. No ``listdir`` of the data tree, ever — per-commit cost is
  O(files touched), not O(table).
- **Commits are atomic put-if-absent.** The writer stages the action file
  and publishes it with ``os.link`` (fails if the version exists — the same
  "win the name" protocol Delta uses on HDFS/ABFS). Readers can never see a
  half-written commit; a crashed writer leaves only an invisible orphan
  data dir.
- **Optimistic concurrency, no lock.** Every write op runs the same commit
  loop (``_commit``): snapshot the log, prepare the commit against it,
  stage data files, publish put-if-absent. On losing a version race the
  writer re-reads the log and prepares again, staging again only when the
  race invalidated its staged files. Each op names what its files depend
  on: ``overwrite``/``append``/``apply_delta`` only the column mapping,
  ``apply`` its input files (the rewritten buckets' and any folded deltas)
  and the mapping, ``compact`` any conflict; ``ddl``/``restore`` stage
  nothing. So an ``apply`` whose winner touched a DISJOINT bucket set
  re-publishes the same files at the next version, and writers on
  different key ranges never serialize a Spark job behind each other —
  the property a lock-based sink cannot offer. Staged files that are
  never published are deleted; each commit records its ``attempts`` and
  ``stage_ms``.
- **Snapshot isolation + time travel.** A reader resolves a version's file
  set once and is immune to concurrent commits; ``read(version=K)`` replays
  to any retained version. ``vacuum`` deletes files *removed* more than
  ``retain_versions`` ago, bounding how far behind a reader may lag exactly
  like Delta's ``VACUUM`` retention window.
- **Checkpoints.** Every ``checkpoint_interval`` commits the full live-file
  set is written to ``_log/_checkpoint.<v>.json`` and pointed to by
  ``_last_checkpoint``, so snapshot resolution reads O(interval) small
  files, not O(history). Commit JSONs are tiny and kept (they are the
  history/time-travel record); only *data* files are vacuumed.

MERGE semantics are the engine's ST2/W5 contract (reference
``connectors/sinks/postgres/trading.json:13-15``):
hash-bucket the keys, read only touched buckets, ``apply_changes`` (latest
per key wins, deletes drop), rewrite only touched buckets. At 100 TB with
100k buckets a 3000-event trigger commits ~a dozen adds/removes and one
4 KB JSON file — the reason every production lakehouse uses this shape.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_connector_spark.changelog.apply import apply_changes

_BUCKET = "__bucket"
_META_COLS = {"__op", "__ts_ms", "__source_db", "__source_table", "__seq"}


class CommitConflict(Exception):
    """Another writer won this version; caller rebases and retries."""


def _bucket_set(b: int | list[int]) -> frozenset[int]:
    """A delta file's buckets as the log records them: a list, or the one
    int of the older one-file-per-bucket delta layout."""
    return frozenset(b) if isinstance(b, list) else frozenset([int(b)])


def _action_buckets(action: dict) -> frozenset[int]:
    """The buckets an ``add``/``remove`` action covers."""
    return _bucket_set(action["buckets"] if "buckets" in action else action["bucket"])


class _Snapshot:
    __slots__ = (
        "version", "files", "deltas", "columns", "num_buckets", "key_cols",
        "removed", "stats", "mapping", "tombstones", "widened",
    )

    def __init__(self):
        self.version: int = -1
        self.files: dict[str, int] = {}  # base file rel path -> bucket
        self.deltas: dict[str, frozenset[int]] = {}  # MOR delta file -> its buckets
        self.removed: dict[str, int] = {}  # rel path -> version removed at
        self.stats: dict[str, dict] = {}  # rel path -> {"min": {...}, "max": {...}}
        self.columns: list[str] | None = None
        self.num_buckets: int | None = None
        self.key_cols: list[str] | None = None
        # column mapping (metadata-only DDL): logical name -> stable physical
        # name as stored in data files. None until the first metadata DDL —
        # identity-mapped tables skip all projection work.
        self.mapping: dict[str, str] | None = None
        # physical names of dropped columns: still present in old data files,
        # never surfaced at read, never reused for a re-added logical column
        self.tombstones: list[str] = []
        # metadata-only type widening: physical name -> target Spark DDL
        # type string. Data files keep whatever width they were written
        # with; reads pass an explicit schema and the parquet reader's
        # widening promotions (int32->long, float->double — SPARK-40876)
        # upcast narrow files at scan time. Empty until the first widen.
        self.widened: dict[str, str] = {}

    def bucket_files(self, buckets: set[int]) -> list[str]:
        return [p for p, b in self.files.items() if b in buckets]

    def bucket_deltas(self, buckets: set[int]) -> list[str]:
        return [p for p, bs in self.deltas.items() if bs & buckets]

    def remove_action(self, path: str) -> dict:
        """The remove action for a live file, naming the buckets it held."""
        if path in self.deltas:
            return {"remove": {"path": path, "buckets": sorted(self.deltas[path])}}
        return {"remove": {"path": path, "bucket": self.files[path]}}


class TxLogMergeSink:
    """Bucketed merge sink (``overwrite`` / ``apply`` / ``apply_delta`` /
    ``read`` / ``count`` / ``exists``) backed by a transaction log.

    ``key_cols`` and ``num_buckets`` are table properties recorded in the
    log: reopening an existing table needs only its path, and a path that
    holds no table without ``key_cols`` raises before anything is created."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str] | None = None,
        num_buckets: int | None = None,
        merge_schema: bool = False,
        checkpoint_interval: int = 10,
        max_commit_retries: int = 20,
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.log_dir = os.path.join(self.path, "_log")
        self.data_dir = os.path.join(self.path, "data")
        self.merge_schema = merge_schema
        self.checkpoint_interval = checkpoint_interval
        self.max_commit_retries = max_commit_retries
        snap = self._snapshot()
        if snap.version >= 0:
            # table properties live in the log; a caller-supplied mismatch
            # would hash keys with the wrong modulus and corrupt the merge
            if num_buckets is not None and num_buckets != snap.num_buckets:
                raise ValueError(
                    f"table at {self.path} has num_buckets={snap.num_buckets}; "
                    f"cannot reopen with {num_buckets}"
                )
            if key_cols is not None and list(key_cols) != list(snap.key_cols):
                raise ValueError(
                    f"table at {self.path} has key_cols={snap.key_cols}; "
                    f"cannot reopen with {key_cols}"
                )
            self.key_cols = list(snap.key_cols)
            self.num_buckets = snap.num_buckets
        else:
            if key_cols is None:
                raise ValueError("key_cols required to create a new table")
            self.key_cols = list(key_cols)
            self.num_buckets = num_buckets or 32
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- log primitives ------------------------------------------------------
    def _commit_file(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:020d}.json")

    def _try_commit(self, version: int, actions: list[dict]) -> None:
        """Atomic put-if-absent publish of one commit (stage + os.link — the
        link fails with EEXIST if another writer won the version)."""
        tmp = os.path.join(self.log_dir, f".tmp.{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            for a in actions:
                f.write(json.dumps(a, separators=(",", ":")) + "\n")
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._commit_file(version))
        except FileExistsError:
            raise CommitConflict(version) from None
        finally:
            os.unlink(tmp)

    def _read_commit(self, version: int) -> list[dict] | None:
        try:
            with open(self._commit_file(version)) as f:
                return [json.loads(line) for line in f if line.strip()]
        except FileNotFoundError:
            return None

    def _last_checkpoint(self) -> int | None:
        try:
            with open(os.path.join(self.log_dir, "_last_checkpoint")) as f:
                return json.load(f)["version"]
        except (FileNotFoundError, ValueError, KeyError):
            return None

    def _snapshot(self, version: int | None = None) -> _Snapshot:
        """Replay the log (from the newest checkpoint ≤ target when allowed)
        into a file-set snapshot. O(checkpoint_interval) commit files in the
        steady state; O(version) only for deep time travel."""
        snap = _Snapshot()
        start = 0
        cp = self._last_checkpoint()
        if cp is not None and (version is None or cp <= version):
            try:
                with open(os.path.join(self.log_dir, f"_checkpoint.{cp:020d}.json")) as f:
                    state = json.load(f)
                snap.version = cp
                snap.files = {p: int(b) for p, b in state["files"].items()}
                snap.deltas = {p: _bucket_set(b) for p, b in state.get("deltas", {}).items()}
                snap.removed = {p: int(v) for p, v in state.get("removed", {}).items()}
                snap.stats = state.get("stats", {})
                snap.columns = state.get("columns")
                snap.num_buckets = state.get("num_buckets")
                snap.key_cols = state.get("key_cols")
                snap.mapping = state.get("column_mapping")
                snap.tombstones = state.get("physical_tombstones", [])
                snap.widened = state.get("widened_types") or {}
                start = cp + 1
            except FileNotFoundError:
                pass  # pointer ahead of a missing checkpoint: full replay
        v = start
        while version is None or v <= version:
            actions = self._read_commit(v)
            if actions is None:
                break
            for a in actions:
                if "metaData" in a:
                    md = a["metaData"]
                    snap.columns = md.get("columns", snap.columns)
                    snap.num_buckets = md.get("num_buckets", snap.num_buckets)
                    snap.key_cols = md.get("key_cols", snap.key_cols)
                    if "column_mapping" in md:
                        snap.mapping = md["column_mapping"]
                    if "physical_tombstones" in md:
                        snap.tombstones = md["physical_tombstones"]
                    if "widened_types" in md:
                        snap.widened = md["widened_types"]
                elif "add" in a:
                    if a["add"].get("delta"):
                        snap.deltas[a["add"]["path"]] = _action_buckets(a["add"])
                    else:
                        snap.files[a["add"]["path"]] = a["add"]["bucket"]
                    if "stats" in a["add"]:
                        snap.stats[a["add"]["path"]] = a["add"]["stats"]
                    snap.removed.pop(a["add"]["path"], None)
                elif "remove" in a:
                    b = snap.files.pop(a["remove"]["path"], None)
                    if b is None:
                        b = snap.deltas.pop(a["remove"]["path"], None)
                    if b is not None:
                        snap.removed[a["remove"]["path"]] = v
                        snap.stats.pop(a["remove"]["path"], None)
            snap.version = v
            v += 1
        if version is not None and snap.version < version:
            raise ValueError(f"version {version} does not exist (latest is {snap.version})")
        return snap

    def _maybe_checkpoint(self, snap_version: int) -> None:
        if snap_version <= 0 or snap_version % self.checkpoint_interval != 0:
            return
        snap = self._snapshot(snap_version)
        # bound checkpoint size: removed entries whose file was already
        # vacuumed carry no information for any future reader
        snap.removed = {
            p: v
            for p, v in snap.removed.items()
            if os.path.exists(os.path.join(self.path, p))
        }
        state = {
            "files": snap.files,
            "deltas": {p: sorted(bs) for p, bs in snap.deltas.items()},
            "removed": snap.removed,
            "stats": snap.stats,
            "columns": snap.columns,
            "num_buckets": snap.num_buckets,
            "key_cols": snap.key_cols,
            "column_mapping": snap.mapping,
            "physical_tombstones": snap.tombstones,
            "widened_types": snap.widened,
        }
        cp = os.path.join(self.log_dir, f"_checkpoint.{snap_version:020d}.json")
        tmp = cp + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, cp)
        ptr_tmp = os.path.join(self.log_dir, f"_last_checkpoint.tmp.{os.getpid()}")
        with open(ptr_tmp, "w") as f:
            json.dump({"version": snap_version}, f)
        os.replace(ptr_tmp, os.path.join(self.log_dir, "_last_checkpoint"))

    # -- data file IO --------------------------------------------------------
    def _bucket_expr(self):
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.key_cols]), F.lit(self.num_buckets)
        ).cast("int")

    def _write_files(
        self,
        df: DataFrame,
        n_shuffle: int,
        cluster_by: list[str] | None = None,
        delta: bool = False,
    ) -> list[dict]:
        """Write one commit's parquet under a unique dir; return add actions.
        Only the just-written dir is listed — O(new files), the exact listing
        Delta gets from task commit messages.

        ``cluster_by`` (physical column names) z-orders rows WITHIN the
        bucket layout: range-partition on (bucket, z-value) and sort within
        partitions, so each bucket splits into files covering tight
        hyper-rectangles of the cluster columns — the footer stats recorded
        on every add action then let ``pruned_files`` skip most of a bucket
        for range predicates (OPTIMIZE ZORDER semantics; the key-hash
        bucket dirs are preserved, so merge routing is unchanged).

        ``delta`` writes a merge-on-read delta instead: no shuffle and no
        bucket dirs (``n_shuffle`` is unused), so each of the batch's own
        partitions writes ONE file, rows sorted by bucket — a small trigger
        read from one source file is one file from one task, a multi-file
        backlog keeps the parallelism Spark planned for its scan. Each file
        keeps the bucket as a ``__bucket`` column, so its add action's
        bucket set is that column of that file, read back on the driver
        without a Spark job; ``_read_files`` drops it. Empty partitions
        leave no file."""
        commit_id = uuid.uuid4().hex
        out_dir = os.path.join(self.data_dir, commit_id)
        w = df.withColumn(_BUCKET, self._bucket_expr())
        if delta:
            w.sortWithinPartitions(_BUCKET).write.mode("overwrite").parquet(out_dir)
            adds = [
                self._add_action(os.path.join("data", commit_id, name), None)
                for name in os.listdir(out_dir)
                if name.endswith(".parquet")
            ]
            return [a for a in adds if a is not None]
        if cluster_by:
            from cdc_connector_spark.ops.zorder import zvalue

            w = (
                zvalue(w, cluster_by)
                .repartitionByRange(n_shuffle, F.col(_BUCKET), F.col("__z"))
                .sortWithinPartitions(_BUCKET, "__z")
                .drop("__z")
            )
        else:
            w = w.repartition(n_shuffle, F.col(_BUCKET))
        (
            w.write.mode("overwrite")
            .partitionBy(_BUCKET)
            .parquet(out_dir)
        )
        adds: list[dict] = []
        for bdir in os.listdir(out_dir):
            if not bdir.startswith(f"{_BUCKET}="):
                continue
            b = int(bdir.split("=", 1)[1])
            for name in os.listdir(os.path.join(out_dir, bdir)):
                if name.endswith(".parquet"):
                    adds.append(self._add_action(os.path.join("data", commit_id, bdir, name), b))
        return adds

    def _add_action(self, rel: str, bucket: int | None) -> dict | None:
        """The add action for a just-written file: a base file of
        ``bucket``, or (``bucket`` None) a delta, whose bucket set is the
        distinct values of its ``__bucket`` column. An empty delta file is
        deleted and yields None."""
        full = os.path.join(self.path, rel)
        add: dict = {"path": rel}
        if bucket is None:
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            buckets = pc.unique(pq.read_table(full, columns=[_BUCKET]).column(0))
            if len(buckets) == 0:
                os.unlink(full)
                return None
            add.update(buckets=sorted(buckets.to_pylist()), delta=True)
        else:
            add["bucket"] = bucket
        add["size"] = os.path.getsize(full)
        stats = self._file_stats(full)
        if stats:
            add["stats"] = stats
        return {"add": add}

    @staticmethod
    def _file_stats(path: str) -> dict | None:
        """Per-file column min/max from the parquet footer (numeric, string,
        date/ts columns) — the data-skipping statistics Delta records in its
        add actions. Cost: one footer read per NEW file at commit time;
        nothing is ever rescanned."""
        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(path).metadata
            mins: dict = {}
            maxs: dict = {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    name = col.path_in_schema
                    lo, hi = st.min, st.max
                    if isinstance(lo, bytes):
                        try:
                            lo, hi = lo.decode(), hi.decode()
                        except UnicodeDecodeError:
                            continue
                    if hasattr(lo, "isoformat"):
                        lo, hi = lo.isoformat(), hi.isoformat()
                    if not isinstance(lo, (int, float, str)):
                        continue
                    mins[name] = lo if name not in mins else min(mins[name], lo)
                    maxs[name] = hi if name not in maxs else max(maxs[name], hi)
            if not mins:
                return None
            return {"min": mins, "max": maxs}
        except Exception:  # noqa: BLE001 — stats are an optimization, never fatal
            return None

    def _read_files(
        self, rel_paths: list[str], widened: dict[str, str] | None = None
    ) -> DataFrame | None:
        if not rel_paths:
            return None
        full = [os.path.join(self.path, p) for p in rel_paths]
        if widened:
            # metadata-only widen: pass an explicit schema so the parquet
            # reader's widening promotions (SPARK-40876) upcast files still
            # carrying the narrow physical type — mergeSchema cannot unify
            # int/bigint footers, an explicit schema can.
            df = self.spark.read.schema(
                self._resolve_read_schema(rel_paths, widened)
            ).parquet(*full)
        else:
            df = self.spark.read.option(
                "mergeSchema", str(self.merge_schema).lower()
            ).parquet(*full)
        # a delta file's stored bucket column is layout, never table data
        return df.drop(_BUCKET)

    def _resolve_read_schema(
        self, rel_paths: list[str], widened: dict[str, str]
    ) -> T.StructType:
        """Explicit read schema for a widened table: ONE parquet footer per
        commit dir (a commit's write has a single schema), merged
        additively in first-seen order, with widened physical columns
        forced to their metadata target type. O(#commits) driver-side
        footer reads — the same cost class as reading the log itself;
        data files are never touched."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        one_per_commit: dict[str, str] = {}
        for p in sorted(rel_paths):
            parts = p.split("/")
            one_per_commit.setdefault(parts[1] if len(parts) > 1 else p, p)
        fields: dict[str, T.DataType] = {}
        order: list[str] = []
        for p in one_per_commit.values():
            sch = from_arrow_schema(pq.read_schema(os.path.join(self.path, p)))
            for f in sch.fields:
                if f.name not in fields:
                    fields[f.name] = f.dataType
                    order.append(f.name)
                elif fields[f.name] != f.dataType and f.name not in widened:
                    raise ValueError(
                        f"conflicting physical types for column {f.name!r}: "
                        f"{fields[f.name].simpleString()} vs "
                        f"{f.dataType.simpleString()} (not a widened column)"
                    )
        return T.StructType(
            [
                T.StructField(
                    name,
                    T._parse_datatype_string(widened[name])
                    if name in widened
                    else fields[name],
                    True,  # files written before an additive column lack it
                )
                for name in order
            ]
        )

    # -- column mapping (metadata-only DDL) ----------------------------------
    # Data files always store PHYSICAL column names; the log's metaData maps
    # logical -> physical (the Delta/Iceberg column-mapping design). Until the
    # first metadata DDL the mapping is None and both views are identical, so
    # pre-existing tables pay zero projection cost. Key columns can never be
    # renamed/dropped (ddl.py guard), so physical == logical for keys and the
    # bucket hash layout is mapping-invariant.

    def _to_logical(self, df: DataFrame | None, snap: _Snapshot) -> DataFrame | None:
        """Physical file frame -> logical user frame: select the mapped
        columns under their logical names (dropped columns' physicals fall
        away here) and pass `__`-meta columns (delta layers) through.

        Runs even with no column mapping: data files written by different
        commits can carry different column ORDERS (an overwrite stores the
        caller's order, a merge stores the merge output's), and a
        multi-file parquet read takes its schema from an ARBITRARY footer
        — without the normalization below, read() column order was a
        per-call coin flip on such tables (caught as a 1-in-3 flake in
        the streaming-join-view crash-replay test)."""
        if df is None:
            return df
        if snap.mapping is None:
            if snap.columns is None:
                return df
            cols = [F.col(c) for c in snap.columns if c in df.columns]
            cols.extend(F.col(c) for c in df.columns if c.startswith("__"))
            return df.select(*cols)
        cols = []
        for logical in snap.columns or []:
            phys = snap.mapping.get(logical, logical)
            if phys in df.columns:
                cols.append(F.col(phys).alias(logical))
        cols.extend(F.col(c) for c in df.columns if c.startswith("__"))
        return df.select(*cols)

    @staticmethod
    def _to_physical(df: DataFrame, mapping: dict[str, str] | None) -> DataFrame:
        """Logical frame -> physical file frame (atomic select, so a logical
        name that collides with another column's physical name cannot tear)."""
        if mapping is None:
            return df
        return df.select(*[F.col(c).alias(mapping.get(c, c)) for c in df.columns])

    @staticmethod
    def _extend_mapping(
        mapping: dict[str, str], tombstones: list[str], logical_cols: list[str]
    ) -> dict[str, str]:
        """Assign stable physical names to never-seen logical columns. A
        fresh column reuses its own name unless that physical is taken by a
        live mapping entry or a tombstone (a re-added column after a drop
        must NOT resurrect the dropped physical values); then it takes the
        first free ``<name>_<n>``. Deterministic, so every commit attempt
        against the same snapshot derives the same physical names."""
        out = dict(mapping)
        used = set(out.values()) | set(tombstones)
        for c in logical_cols:
            if c in out or c.startswith("__"):
                continue
            phys, n = c, 0
            while phys in used:
                n += 1
                phys = f"{c}_{n}"
            out[c] = phys
            used.add(phys)
        return out

    # -- public surface ------------------------------------------------------
    def exists(self) -> bool:
        return self._read_commit(0) is not None

    def current_version(self) -> int | None:
        v = self._snapshot().version
        return None if v < 0 else v

    def read(self, version: int | None = None) -> DataFrame | None:
        """Snapshot (or time-travel) read: the file set is resolved once from
        the log, so concurrent commits cannot tear the result. If the
        snapshot holds merge-on-read delta files, the latest-per-key MERGE
        is applied on the fly (the read-time half of the MOR trade)."""
        snap = self._snapshot(version)
        if snap.version < 0:
            return None
        base = self._to_logical(self._read_files(sorted(snap.files), snap.widened), snap)
        if not snap.deltas:
            return base
        deltas = self._to_logical(self._read_files(sorted(snap.deltas), snap.widened), snap)
        return apply_changes(base, deltas, self.key_cols)

    def count(self) -> int:
        df = self.read()
        return 0 if df is None else df.count()

    def pruned_files(
        self, predicates: dict[str, tuple], version: int | None = None
    ) -> tuple[list[str], list[str]]:
        """Base files surviving stats pruning for ``predicates``
        ({col: (lo, hi)}, either bound None for open) plus ALL delta files.
        A base file is skipped when its recorded [min, max] for some
        predicate column cannot intersect the requested range; files with no
        stats for the column are kept (pruning must never lose rows).
        Delta files are never pruned: a delta row can move a key into the
        range while its base row's file is skipped — correctness requires
        reading every delta layer (they are small by construction)."""
        snap = self._snapshot(version)
        # footer stats are recorded under PHYSICAL names; translate predicates
        if snap.mapping is not None:
            predicates = {
                snap.mapping.get(c, c): rng for c, rng in predicates.items()
            }

        def survives(path: str) -> bool:
            st = snap.stats.get(path)
            if not st:
                return True
            for col, (lo, hi) in predicates.items():
                fmin, fmax = st["min"].get(col), st["max"].get(col)
                if fmin is None or fmax is None:
                    continue
                if lo is not None and fmax < lo:
                    return False
                if hi is not None and fmin > hi:
                    return False
            return True

        return (
            sorted(p for p in snap.files if survives(p)),
            sorted(snap.deltas),
        )

    def scan(
        self, predicates: dict[str, tuple], version: int | None = None
    ) -> DataFrame | None:
        """Data-skipping read: resolve the snapshot, drop base files whose
        footer stats exclude the predicate ranges, merge any delta layers,
        and apply the predicates as row filters (file stats are necessary,
        not sufficient). Same rows as ``read().filter(...)``, touching only
        the files that can matter — this is what makes a time- or key-range
        query on a z-ordered 100 TB table read megabytes, not terabytes."""
        snap = self._snapshot(version)
        if snap.version < 0:
            return None
        base_paths, delta_paths = self.pruned_files(predicates, version)
        df = self._to_logical(self._read_files(base_paths, snap.widened), snap)
        if delta_paths:
            df = apply_changes(
                df, self._to_logical(self._read_files(delta_paths, snap.widened), snap), self.key_cols
            )
        if df is None:
            return None
        for col, (lo, hi) in predicates.items():
            if lo is not None:
                df = df.filter(F.col(col) >= lo)
            if hi is not None:
                df = df.filter(F.col(col) <= hi)
        return df

    def history(self) -> list[dict]:
        """Commit audit trail (operation, touched buckets, files in/out,
        commit attempts and staging wall time ``stage_ms``)."""
        out = []
        v = 0
        while (actions := self._read_commit(v)) is not None:
            info = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
            out.append(
                {
                    "version": v,
                    **info,
                    "adds": sum(1 for a in actions if "add" in a),
                    "removes": sum(1 for a in actions if "remove" in a),
                }
            )
            v += 1
        return out

    def _bucket_rows(self, version: int, buckets: set[int]) -> DataFrame | None:
        """Logical rows of the given buckets at a version (base ⊕ deltas
        restricted to those buckets) — the O(touched) unit CDF diffs on."""
        snap = self._snapshot(version)
        if snap.version < 0:
            return None
        base = self._to_logical(
            self._read_files(sorted(snap.bucket_files(buckets)), snap.widened), snap
        )
        delta_files = sorted(snap.bucket_deltas(buckets))
        if delta_files:
            # a delta file also holds rows of other buckets; its bucket is
            # recomputed from the keys (deltas of the older per-bucket
            # layout store no bucket column)
            deltas = self._to_logical(self._read_files(delta_files, snap.widened), snap)
            base = apply_changes(
                base, deltas.filter(self._bucket_expr().isin(sorted(buckets))), self.key_cols
            )
        return base

    def table_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame | None:
        """Change data feed (Delta CDF analogue): row-level changes committed
        in versions ``[from_version, to_version]`` as one DataFrame with
        ``_change_type`` ∈ {insert, delete, update_preimage,
        update_postimage} and ``_commit_version`` — the downstream-consumer
        contract CDC pipelines chain on (the reference's sink emits the same
        per-row op stream it ingests; here the TABLE is the source of truth
        and changes are derived from the log).

        Cost is O(buckets touched per commit), never O(table): each commit's
        add/remove actions name the buckets it touched, so the diff reads
        only those buckets at v-1 and v — for a 3000-event trigger on a 100k
        bucket table that is a dozen files per side per version, however big
        the table is. COMPACT and DDL commits are logical no-ops and are
        skipped without reading anything (a widen changes column TYPES, not
        row identity; CDF consumers see type changes via the schema, not as
        row churn).

        Retention caveat (same as Delta CDF): versions whose removed files
        were vacuumed can no longer be diffed — call within the vacuum
        retention window.
        """
        current = self.current_version()
        if current is None:
            return None
        to_version = current if to_version is None else to_version
        if from_version < 0 or to_version > current or from_version > to_version:
            raise ValueError(
                f"version range [{from_version}, {to_version}] outside [0, {current}]"
            )
        pieces: list[DataFrame] = []
        for v in range(from_version, to_version + 1):
            actions = self._read_commit(v)
            info = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
            if info.get("operation") in ("COMPACT", "DDL"):
                continue
            buckets = {
                b
                for a in actions
                for kind in ("add", "remove")
                if kind in a
                for b in _action_buckets(a[kind])
            }
            if not buckets:
                continue
            new = self._bucket_rows(v, buckets)
            old = self._bucket_rows(v - 1, buckets) if v > 0 else None
            diff = self._diff_versions(old, new, v)
            if diff is not None:
                pieces.append(diff)
        if not pieces:
            return None
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def _diff_versions(
        self, old: DataFrame | None, new: DataFrame | None, version: int
    ) -> DataFrame | None:
        """Key-level diff of two bucket-restricted snapshots → CDF rows."""
        keys = self.key_cols
        if new is None and old is None:
            return None
        cols = sorted(
            set(old.columns if old is not None else [])
            | set(new.columns if new is not None else [])
        )
        vals = [c for c in cols if c not in keys]

        def _side(df: DataFrame | None, tag: str) -> DataFrame:
            # normalize to the union schema; __exists distinguishes a row of
            # NULL values from a missing row in the full-outer join
            if df is None:
                ref = new if tag == "o" else old
                df = ref.sparkSession.createDataFrame([], ref.schema).limit(0)
            out_cols = [
                (F.col(c) if c in df.columns else F.lit(None)).alias(
                    c if c in keys else f"__{tag}_{c}"
                )
                for c in cols
            ]
            return df.select(*out_cols, F.lit(True).alias(f"__{tag}_exists"))

        j = _side(old, "o").join(_side(new, "n"), keys, "full_outer")
        o_ex = F.coalesce(F.col("__o_exists"), F.lit(False))
        n_ex = F.coalesce(F.col("__n_exists"), F.lit(False))
        if vals:
            changed = ~F.struct(*[F.col(f"__o_{c}") for c in vals]).eqNullSafe(
                F.struct(*[F.col(f"__n_{c}") for c in vals])
            )
        else:
            changed = F.lit(False)  # key-only table: presence is the only state

        def _emit(filt, tag: str, change_type: str) -> DataFrame:
            return j.filter(filt).select(
                *keys,
                *[F.col(f"__{tag}_{c}").alias(c) for c in vals],
                F.lit(change_type).alias("_change_type"),
                F.lit(version).alias("_commit_version"),
            )

        return (
            _emit(~o_ex & n_ex, "n", "insert")
            .unionByName(_emit(o_ex & ~n_ex, "o", "delete"))
            .unionByName(_emit(o_ex & n_ex & changed, "o", "update_preimage"))
            .unionByName(_emit(o_ex & n_ex & changed, "n", "update_postimage"))
        )

    # -- the commit loop -----------------------------------------------------
    # Every write op is a ``prepare(snap)`` run once per attempt against a
    # fresh snapshot. It returns None when there is nothing to commit, else
    # ``(key, stage, actions)``: ``stage()`` writes the op's data files and
    # returns their add actions (``stage`` is None for metadata-only ops),
    # ``key`` names everything those files depend on, and ``actions`` are
    # the commit's other actions, its commitInfo last.

    def _commit(
        self, op: str, prepare: Callable[[_Snapshot], tuple | None]
    ) -> int | None:
        """Optimistic concurrency for every write op: prepare against a
        snapshot, stage unless the staged files are still valid, publish
        put-if-absent, checkpoint. Returns the committed version, or None
        when ``prepare`` found nothing to do.

        A lost race re-prepares against the new snapshot and stages again
        only when the staging key changed — a race that left the op's
        inputs alone costs one log read, not a second Spark write. Every
        exit without a commit discards the staged files. The commitInfo
        records ``attempts`` and ``stage_ms`` (staging wall time summed
        over attempts), so ``history()`` shows what each commit cost."""
        adds: list[dict] | None = None  # staged, not yet published
        key = None
        stage_ms = 0.0
        try:
            for attempt in range(self.max_commit_retries):
                snap = self._snapshot()
                plan = prepare(snap)
                if plan is None:
                    return None
                new_key, stage, actions = plan
                if adds is not None and new_key != key:
                    self._discard(adds)
                    adds = None
                if adds is None and stage is not None:
                    t0 = time.perf_counter()
                    adds, key = stage(), new_key
                    stage_ms += (time.perf_counter() - t0) * 1000
                *body, info = actions
                info["commitInfo"].update(
                    ts=time.time(), attempts=attempt + 1, stage_ms=round(stage_ms, 1)
                )
                try:
                    self._try_commit(snap.version + 1, [*body, *(adds or []), info])
                except CommitConflict:
                    continue
                adds = None  # published: the table owns them now
                self._maybe_checkpoint(snap.version + 1)
                return snap.version + 1
            raise RuntimeError(f"{op} lost {self.max_commit_retries} commit races")
        finally:
            if adds is not None:
                self._discard(adds)

    def _staging(
        self,
        snap: _Snapshot,
        cols: list[str],
        frame: Callable[[], DataFrame],
        n_shuffle: int,
        delta: bool = False,
    ) -> tuple[dict[str, str] | None, Callable[[], list[dict]]]:
        """Stage ``frame()``, whose logical columns are ``cols``: extend the
        column mapping with any new column, rename to physical names, write.
        Returns the mapping the files are written under (None on an
        unmapped table) — the op's staging key and the mapping its
        metaData publishes — and the stage function."""
        mapping = (
            None
            if snap.mapping is None
            else self._extend_mapping(snap.mapping, snap.tombstones, cols)
        )

        def stage() -> list[dict]:
            return self._write_files(self._to_physical(frame(), mapping), n_shuffle, delta=delta)

        return mapping, stage

    def _widen_meta(
        self, snap: _Snapshot, cols: list[str], mapping: dict[str, str] | None
    ) -> list[dict]:
        """The metaData action a batch with columns ``cols`` needs: none
        unless it brings logical columns the table lacks, else the widened
        (sorted) column list and the extended mapping."""
        new = {c for c in cols if not c.startswith("__")} - set(snap.columns or [])
        if not new:
            return []
        meta = {
            "key_cols": self.key_cols,
            "num_buckets": self.num_buckets,
            "columns": sorted(set(snap.columns or []) | new),
        }
        if mapping is not None:
            meta["column_mapping"] = mapping
        return [{"metaData": meta}]

    def _default_shuffle(self) -> int:
        return min(
            self.num_buckets,
            int(self.spark.conf.get("spark.sql.shuffle.partitions", "32")) * 4,
        )

    def _guard_schema(self, changes: DataFrame, snap: _Snapshot) -> None:
        """ST8: refuse a widening batch unless merge_schema=True. O(1) —
        compares against the log's recorded columns; no footer reads."""
        if self.merge_schema or snap.columns is None:
            return
        new_cols = set(changes.columns) - set(snap.columns) - _META_COLS
        if new_cols:
            raise ValueError(
                f"batch widens the schema with {sorted(new_cols)} but the table "
                "was opened with merge_schema=False; reopen with "
                "merge_schema=True to evolve the schema (ST8)"
            )

    def _discard(self, adds: list[dict]) -> None:
        """Drop staged-but-unpublished files (safe: never referenced by any
        committed version)."""
        for a in adds:
            try:
                os.unlink(os.path.join(self.path, a["add"]["path"]))
            except FileNotFoundError:
                pass

    def overwrite(self, df: DataFrame) -> None:
        """Full snapshot load (S10 analogue): add the new file set, remove
        every live file, in one atomic commit.

        Stage-once (r12): the staged files depend on the snapshot only
        through the column mapping, so a lost commit race re-derives the
        actions (fresh removes, fresh version) and re-publishes the SAME
        files — rewriting the O(table) data because a metadata race was
        lost would double a full snapshot load at 100 TB. A concurrent DDL
        that changes the mapping leaves the staged physical schema stale:
        that, and only that, stages again."""
        self._commit("overwrite", lambda snap: self._overwrite_plan(df, snap))

    def _overwrite_plan(self, df: DataFrame, snap: _Snapshot):
        cols = list(df.columns)
        mapping, stage = self._staging(snap, cols, lambda: df, self._default_shuffle())
        meta = {"key_cols": self.key_cols, "num_buckets": self.num_buckets, "columns": cols}
        if mapping is not None:
            # logical ids are stable across an overwrite; columns absent
            # from the new frame are dropped -> tombstone their physicals
            meta["column_mapping"] = {l: p for l, p in mapping.items() if l in cols}
            meta["physical_tombstones"] = snap.tombstones + [
                p for l, p in mapping.items() if l not in cols
            ]
        removes = [snap.remove_action(p) for p in sorted({**snap.files, **snap.deltas})]
        return (
            meta.get("column_mapping"),
            stage,
            [{"metaData": meta}, *removes, {"commitInfo": {"operation": "OVERWRITE"}}],
        )

    def _bootstrap_plan(self, df: DataFrame, snap: _Snapshot):
        """Version 0 for ``append``/``apply``/``apply_delta`` on an empty
        table: an overwrite with nothing to remove, in one Spark job.

        Its staging key is its own, so a lost race (another writer created
        the table first) stages again on the op's normal path against the
        winner's table. Never overwrite's retry: that removes ALL live
        files, so the loser would silently discard the winner's batch (r11
        review; pinned by test_concurrent_bootstrap_append_keeps_both_batches)."""
        _, stage, actions = self._overwrite_plan(df, snap)
        return "bootstrap", stage, actions

    def apply(self, changes: DataFrame) -> None:
        """MERGE one micro-batch (ST2) under optimistic concurrency.

        Restage rule: the staged merge is keyed by its input files (the
        rewritten buckets' base files and the folded deltas) and the column
        mapping. A lost race whose winner touched DISJOINT buckets leaves
        both unchanged, so the same files are re-published without recompute;
        otherwise the merge re-runs against the new snapshot.
        Deletes+upserts stay idempotent either way, so at-least-once
        delivery still yields exactly-once state."""
        batch: DataFrame | None = None
        touched: set[int] = set()

        def prepare(snap: _Snapshot):
            nonlocal batch, touched
            if snap.version < 0:
                return self._bootstrap_plan(apply_changes(None, changes, self.key_cols), snap)
            if batch is None:
                # read the batch once: the touched-bucket collect and the
                # merge's two reads of it would each re-run its source —
                # inside foreachBatch, re-read the trigger's files and count
                # its rows again in the query progress. Lazy, so the collect
                # is the one job that reads the source and fills the
                # checkpoint. localCheckpoint, not persist: the cache-leak
                # rule (ops/graph.py).
                batch = changes.localCheckpoint(eager=False)
                touched = {
                    r[0]
                    for r in batch.select(self._bucket_expr().alias("b")).distinct().collect()
                }
            self._guard_schema(batch, snap)
            # MOR deltas on touched buckets must fold into this merge and be
            # removed with it — leaving them would let an OLDER delta row
            # overwrite the new base at read time (base rows carry no ts).
            # A delta is folded whole, so the rewrite spans every bucket it
            # holds, and any other delta on those buckets must fold too:
            # once one delta meets the batch, fold them all (they are small)
            delta_files = sorted(snap.deltas) if snap.bucket_deltas(touched) else []
            rewrite = touched.union(*(snap.deltas[p] for p in delta_files))
            base_files = sorted(snap.bucket_files(rewrite))
            inputs = base_files + delta_files

            def merged() -> DataFrame:
                current = self._to_logical(self._read_files(base_files, snap.widened), snap)
                if delta_files:
                    current = apply_changes(
                        current,
                        self._to_logical(self._read_files(delta_files, snap.widened), snap),
                        self.key_cols,
                    )
                return apply_changes(current, batch, self.key_cols)

            mapping, stage = self._staging(snap, batch.columns, merged, max(1, len(rewrite)))
            return (inputs, mapping), stage, [
                *self._widen_meta(snap, batch.columns, mapping),
                *(snap.remove_action(p) for p in inputs),
                {"commitInfo": {"operation": "MERGE", "buckets": sorted(rewrite)}},
            ]

        self._commit("apply", prepare)

    def append(self, df: DataFrame) -> None:
        """Insert-only fast path: bucket and add the batch's files WITHOUT
        reading or rewriting existing data — O(batch) total, zero read
        amplification. For insert-only streams (event logs, append-only CDC
        topics) where the caller guarantees key-uniqueness; duplicate keys
        are NOT merged (use ``apply`` for merge semantics). This is what
        fragments buckets over time — ``compact`` is its maintenance twin
        (the merge-on-read half of the copy-on-write/append trade).

        An append's inputs are only its OWN new files, so a lost race
        re-publishes them at the next version with zero recompute, unless a
        concurrent DDL changed the column mapping."""

        def prepare(snap: _Snapshot):
            if snap.version < 0:
                return self._bootstrap_plan(df, snap)
            self._guard_schema(df, snap)
            mapping, stage = self._staging(snap, df.columns, lambda: df, self._default_shuffle())
            return mapping, stage, [
                *self._widen_meta(snap, df.columns, mapping),
                {"commitInfo": {"operation": "APPEND"}},
            ]

        self._commit("append", prepare)

    def apply_delta(self, changes: DataFrame) -> None:
        """Merge-on-read apply (the Hudi-MOR half of the write-cost trade):
        the flattened change batch lands as delta files, one per partition
        of the batch — rows sorted by bucket, keeping their ``__op``/
        ``__ts_ms``/``__seq`` columns, each add action naming the buckets
        its file holds — with NO shuffle, read or rewrite of existing data.
        A trigger read from one source file is one file from one task no
        matter how many buckets the keys touch; readers pay the
        latest-per-key merge until ``compact()`` (or a copy-on-write
        ``apply`` that meets a delta) materializes base files.

        Use when trigger latency matters more than read latency (high-
        frequency CDC into a table read on a slower cadence); ``apply`` is
        the copy-on-write twin for read-hot tables. The two interleave
        freely: read() resolves base ⊕ deltas at any version, and the
        (ts, seq) ordering contract (ST3) holds across any number of delta
        layers. Commit-race handling is append's: delta files are this
        writer's own, so a lost race re-publishes with zero recompute. On
        an empty table the first batch becomes the base."""

        def prepare(snap: _Snapshot):
            if snap.version < 0:
                return self._bootstrap_plan(apply_changes(None, changes, self.key_cols), snap)
            self._guard_schema(changes, snap)
            mapping, stage = self._staging(snap, changes.columns, lambda: changes, 1, delta=True)
            return mapping, stage, [
                *self._widen_meta(snap, changes.columns, mapping),
                {"commitInfo": {"operation": "MERGE_DELTA"}},
            ]

        self._commit("apply_delta", prepare)

    def compact(
        self,
        min_files: int = 4,
        zorder_by: list[str] | None = None,
        files_per_bucket: int = 2,
    ) -> int:
        """Small-file compaction (the lakehouse ``OPTIMIZE`` analogue):
        every bucket holding ≥ ``min_files`` live files is rewritten into
        one, published as a normal commit (N removes + 1 add per bucket) —
        data is byte-equal, so readers see no semantic change and time
        travel still reaches the pre-compaction layout.

        ``zorder_by`` (logical column names) makes this ``OPTIMIZE ZORDER
        BY``: every bucket with ≥2 live files (or deltas) is rewritten with
        rows z-ordered within the bucket layout into ``files_per_bucket``
        z-segments, so the per-file footer stats recorded in the log turn
        range predicates on ANY clustered column into file skips inside
        each bucket (``scan``/``pruned_files``) — the engine's secondary-
        index analogue applied to the live table, not just a one-shot write.

        Streaming CDC accrues delta files on every merge-on-read
        micro-batch (one per batch partition, each holding rows of most
        buckets) and one file per touched bucket per ``append``; without
        compaction a year of 10-second triggers is ~3M files and scan
        planning dies on file-listing overhead long before data size
        matters. Run this on the maintenance cadence (the
        reference's scheduled-validation slot, O5). Every delta folds, with
        every bucket it holds; otherwise only buckets over the threshold
        rewrite — cost is O(fragmented data), not O(table). Returns the
        number of buckets compacted.

        Any lost race stages again: another writer may have rewritten the
        compacted buckets."""
        frag: set[int] = set()

        def prepare(snap: _Snapshot):
            nonlocal frag
            if snap.version < 0:
                return None
            by_bucket: dict[int, list[str]] = {}
            for p, b in snap.files.items():
                by_bucket.setdefault(b, []).append(p)
            # a bucket is due when its base files fragment OR any MOR delta
            # layer awaits materialization; a z-order request re-clusters
            # EVERY live bucket (re-layout is the point of OPTIMIZE ZORDER)
            frag_floor = 1 if zorder_by else min_files
            frag = set(b for b, ps in by_bucket.items() if len(ps) >= frag_floor)
            frag = frag.union(*snap.deltas.values())
            if not frag:
                return None
            base_paths = sorted(snap.bucket_files(frag))
            delta_paths = sorted(snap.deltas)
            # one output file per compacted bucket (files_per_bucket
            # z-segments each when clustering); cluster cols are translated
            # logical -> physical since compact runs in physical space
            cluster = [(snap.mapping or {}).get(c, c) for c in zorder_by] if zorder_by else None

            def stage() -> list[dict]:
                # widened read here means compaction MIGRATES narrow files to
                # the widened type as a side effect — the gradual rewrite path
                df = self._read_files(base_paths, snap.widened)
                if delta_paths:
                    df = apply_changes(
                        df, self._read_files(delta_paths, snap.widened), self.key_cols
                    )
                return self._write_files(
                    df,
                    n_shuffle=len(frag) * (files_per_bucket if zorder_by else 1),
                    cluster_by=cluster,
                )

            return snap.version, stage, [
                *(snap.remove_action(p) for p in base_paths + delta_paths),
                {"commitInfo": {
                    "operation": "COMPACT",
                    "buckets": sorted(frag),
                    **({"zorder_by": list(zorder_by)} if zorder_by else {}),
                }},
            ]

        self._commit("compact", prepare)
        return len(frag)

    def ddl(self, ops) -> None:
        """Schema evolution on the table (ST8, non-additive). ALL of rename,
        drop, and widen are METADATA-ONLY: one O(1) log commit updating the
        column mapping / widened-type map — zero data files touched, the
        property that makes DDL on a 100 TB table instant (reference anchor:
        the schema-history stream, connectors/sources/mariadb/trading.json:
        23-37; design anchors: Delta/Iceberg column mapping, Delta type
        widening). Widen stores the target type in metadata; reads pass an
        explicit schema and the parquet reader's widening promotions
        (SPARK-40876, Spark 4) upcast narrow files at scan time; compaction
        gradually migrates files to the wide type.

        Ops validate against the EVOLVING logical schema (ddl.py guards: key
        rename/drop/widen rejected, narrowing rejected, replay idempotent).
        The whole batch commits as ONE metadata action; time travel to a
        pre-DDL version replays the pre-DDL mapping/widening, so old reads
        keep old names and old types."""
        from cdc_connector_spark.changelog.ddl import (
            DropColumn,
            RenameColumn,
            WidenColumn,
            _check_ops,
        )

        cur = self.read()
        if cur is None:
            raise ValueError("cannot run DDL on an empty table")
        _check_ops(cur.schema, ops, self.key_cols)
        run = list(ops)

        def prepare(snap: _Snapshot):
            columns = list(snap.columns or [])
            # first metadata DDL upgrades the table to an identity mapping
            mapping = dict(snap.mapping) if snap.mapping is not None else {
                c: c for c in columns
            }
            tombstones = list(snap.tombstones)
            widened = dict(snap.widened)
            changed = snap.mapping is None
            described: list[str] = []
            for op in run:
                if isinstance(op, WidenColumn):
                    phys = mapping.get(op.col, op.col)
                    if widened.get(phys) == op.to_type:
                        continue  # already applied — replay is idempotent (ST1)
                    widened[phys] = op.to_type
                    changed = True
                    described.append(f"widen {op.col}->{op.to_type}")
                elif isinstance(op, RenameColumn):
                    if op.old not in mapping and op.new in mapping:
                        continue  # already applied — replay is idempotent (ST1)
                    if op.old not in mapping:
                        raise ValueError(f"rename: no such column {op.old!r}")
                    if op.new in mapping:
                        raise ValueError(f"rename: target {op.new!r} already exists")
                    mapping[op.new] = mapping.pop(op.old)
                    columns[columns.index(op.old)] = op.new
                    changed = True
                    described.append(f"rename {op.old}->{op.new}")
                elif isinstance(op, DropColumn):
                    if op.col not in mapping:
                        continue  # already dropped — replay no-op
                    dropped_phys = mapping.pop(op.col)
                    tombstones.append(dropped_phys)
                    # the widened entry for a dropped physical MUST survive:
                    # mixed narrow/wide files for it still exist, and the
                    # explicit read schema has to keep unifying them (the
                    # logical column disappears in _to_logical, not at the
                    # scan). Tombstoned physicals are never reused for new
                    # columns (_extend_mapping), so the entry cannot collide.
                    columns.remove(op.col)
                    changed = True
                    described.append(f"drop {op.col}")
                else:  # pragma: no cover - type guard
                    raise TypeError(f"not a metadata op: {op!r}")
            if not changed:
                return None
            return None, None, [
                {"metaData": {
                    "key_cols": self.key_cols,
                    "num_buckets": self.num_buckets,
                    "columns": columns,
                    "column_mapping": mapping,
                    "physical_tombstones": tombstones,
                    "widened_types": widened,
                }},
                {"commitInfo": {"operation": "DDL", "ops": described}},
            ]

        self._commit("ddl", prepare)

    def restore(self, version: int) -> None:
        """Roll the table back to an earlier version with ONE metadata
        commit (Delta RESTORE semantics): the new head's file set IS the
        target version's file set — zero data files are read, written, or
        copied; re-adds and removes are log actions only, so restore is
        O(1) in table size. History is preserved (a restore is a new
        commit, not history rewrite), time travel to the in-between
        versions keeps working, and the change data feed reports the
        restore's row-level effect like any other commit.

        Fails loudly when the target's files were already vacuumed — a
        restore past the vacuum horizon cannot be honored and silently
        resurrecting a partial file set would corrupt the table."""
        target = self._snapshot(version)  # raises if version never existed
        target_all = {**target.files, **target.deltas}
        missing = [
            p
            for p in target_all
            if not os.path.exists(os.path.join(self.path, p))
        ]
        if missing:
            raise ValueError(
                f"cannot restore to version {version}: {len(missing)} of its "
                f"files were vacuumed (first: {missing[0]!r})"
            )

        def prepare(snap: _Snapshot):
            if snap.version == version:
                return None  # restoring to the current head is a no-op
            current_all = {**snap.files, **snap.deltas}
            meta = {
                "key_cols": target.key_cols,
                "num_buckets": target.num_buckets,
                "columns": target.columns,
                # explicit (possibly null) values OVERWRITE newer DDL state —
                # restore rolls schema back along with data
                "column_mapping": target.mapping,
                "physical_tombstones": target.tombstones,
                "widened_types": target.widened,
            }
            actions: list[dict] = [{"metaData": meta}]
            for p in sorted(set(target_all) - set(current_all)):
                add = {"path": p, "size": os.path.getsize(os.path.join(self.path, p))}
                if p in target.deltas:
                    add.update(buckets=sorted(target.deltas[p]), delta=True)
                else:
                    add["bucket"] = target.files[p]
                if p in target.stats:
                    add["stats"] = target.stats[p]
                actions.append({"add": add})
            for p in sorted(set(current_all) - set(target_all)):
                actions.append(snap.remove_action(p))
            actions.append({"commitInfo": {"operation": "RESTORE", "restored_version": version}})
            return None, None, actions

        committed = self._commit("restore", prepare)
        if committed is None:
            return
        # a vacuum running concurrently from a pre-restore snapshot may
        # have unlinked a target file between our pre-check and the
        # commit — verify AFTER publishing and fail LOUDLY with the
        # recovery path rather than leaving a silently unreadable head
        # (r11 review; vacuum's fresh-head re-check makes this window
        # an instant, but an instant is not never)
        gone = [
            p
            for p in target_all
            if not os.path.exists(os.path.join(self.path, p))
        ]
        if gone:
            raise RuntimeError(
                f"restore to version {version} committed as "
                f"v{committed} but a concurrent vacuum deleted "
                f"{len(gone)} of its files (first: {gone[0]!r}); run "
                f"restore({committed - 1}) to return to the previous "
                f"head, whose files are intact"
            )

    def vacuum(self, retain_versions: int = 2) -> int:
        """Physically delete data files removed more than ``retain_versions``
        commits ago (readers at most that far behind stay consistent — the
        Delta VACUUM retention contract). Commit JSONs are kept: they are the
        history, and time travel past the vacuum horizon simply fails on the
        missing files. Returns files deleted."""
        snap = self._snapshot()
        horizon = snap.version - retain_versions
        candidates = [
            rel for rel, removed_at in snap.removed.items() if removed_at <= horizon
        ]
        # re-snapshot RIGHT before unlinking: a concurrent restore() can
        # re-add a removed-beyond-horizon file with one metadata commit,
        # and deleting it would leave the new head referencing a
        # physically missing file (r11 review). The refresh shrinks the
        # window to the unlink loop itself; the POST-loop re-check below
        # plus restore's post-commit existence check together detect the
        # remainder in every interleaving (r12, ADVICE): whichever of
        # (restore's commit) and (our final re-snapshot) happens second
        # sees the conflict and raises.
        head = self._snapshot()
        live_now = set(head.files) | set(head.deltas)
        deleted = 0
        unlinked: list[str] = []
        for rel in candidates:
            if rel in live_now:
                continue  # resurrected by a restore since `snap`
            try:
                os.unlink(os.path.join(self.path, rel))
                deleted += 1
                unlinked.append(rel)
            except FileNotFoundError:
                pass
        if unlinked:
            # final re-check: a restore may have committed AFTER our
            # pre-unlink snapshot but BEFORE an unlink, resurrecting a
            # file we then deleted. If it committed after this check
            # instead, restore's own post-commit existence check fires.
            # Either way the torn head is reported loudly, never silent.
            final = self._snapshot()
            final_live = set(final.files) | set(final.deltas)
            clobbered = [rel for rel in unlinked if rel in final_live]
            if clobbered:
                raise RuntimeError(
                    f"vacuum raced a concurrent restore: head v{final.version} "
                    f"references {len(clobbered)} file(s) this vacuum already "
                    f"deleted (first: {clobbered[0]!r}); run "
                    f"restore({final.version - 1}) to return to the "
                    f"pre-restore head, whose files are intact"
                )
        # empty commit dirs are cosmetic; sweep cheaply
        for d in os.listdir(self.data_dir):
            full = os.path.join(self.data_dir, d)
            try:
                if os.path.isdir(full) and not any(os.scandir(full)):
                    os.rmdir(full)
                else:
                    for sub in os.listdir(full):
                        sfull = os.path.join(full, sub)
                        if os.path.isdir(sfull) and not any(os.scandir(sfull)):
                            os.rmdir(sfull)
                    if not any(os.scandir(full)):
                        os.rmdir(full)
            except OSError:
                pass
        return deleted
