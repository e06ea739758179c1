"""Snapshot store: parquet tables + a JSON manifest implementing the
Iceberg-snapshot contract (generation-versioned tables, atomic commit,
exact resume). The north_rule asks for Iceberg; the sandbox has no
Iceberg runtime jar, so this is the documented fallback (SURVEY.md §7.4)
behind one storage interface — swapping in `df.writeTo(table)` +
`VERSION AS OF` is a one-class change.

Reference analog: the saved/ parquet + JSON checkpoints and
read_from_memory resume (archived/Post-Processor/processor.py:854-866,
960-975; processor/post_input/load_input.py:213,296).
"""

from __future__ import annotations

import json
import logging
import math
import os
import tempfile
from typing import NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

# Rows a directory write puts in one parquet file when the write carries
# its row count: ~40 MB at the 38 bytes of a frontier row.
ROWS_PER_FILE = 1_000_000


def observed(obs: Observation, defaults: dict | None) -> dict | None:
    """Read an Observation's metrics, or `defaults` when the observed
    subtree was optimized away.

    AQE's empty-relation propagation may drop a CollectMetrics node from
    the executed plan when a subtree proves empty at runtime: the
    node's own input, or — for a node below a persist, whose observation
    the job that fills the cache completes — a subtree above the cache
    scan. The JVM Observation then completes with a schemaless empty row
    that Observation.get cannot convert (PythonSQLUtils.toPyRow fails its
    schema assertion). Where only the node's own input can be dropped,
    the defaults are the observed aggregate's empty-input result
    (counts → 0); elsewhere the caller passes None and recounts. Any
    other failure propagates."""
    try:
        return obs.get
    except Py4JJavaError as e:
        if (
            "toPyRow" not in e.errmsg
            or e.java_exception.getClass().getName() != "java.lang.AssertionError"
        ):
            raise
        log.info(
            "observation %s: observed subtree was eliminated as empty;"
            " using defaults %s", obs._name or "(unnamed)", defaults,
        )
        return defaults


class Write(NamedTuple):
    """One write of a write_many commit. A plain (table, df, generation,
    mode[, meta[, rows]]) tuple is read the same way."""

    table: str
    df: DataFrame
    generation: int
    mode: str
    meta: dict | None = None
    rows: int | None = None


def _part_files(path: str) -> set[str]:
    """Names of the parquet part files directly under path."""
    if not os.path.isdir(path):
        return set()
    return {f for f in os.listdir(path) if f.startswith("part-")}


class SnapshotStore:
    """Versioned parquet tables under root/: <table>/gen=<n>.<k>/ dirs
    referenced by a manifest (Iceberg manifest pattern). Three table modes:
    snapshot (each generation dir is the full table), append (each
    generation dir is a delta; reads union all deltas <= generation), and
    bucketed (deltas append into one Spark bucketed external table — the
    Iceberg bucket(N, col) partition-transform analog — so equi-joins on
    the bucket key skip the exchange on this side; for idempotent
    membership tables like the URL-seen set).

    A directory write that carries its row count is written in
    ceil(rows / ROWS_PER_FILE) files, and the manifest records the row
    count of every directory write, observed in the write's own job — so
    rows(table) knows a table's size without a count job (write_many).

    Commit protocol: write a FRESH parquet dir, then atomically replace
    manifest.json (tmp + rename). A crash between the two leaves the
    previous manifest pointing at the previous snapshot — exact resume
    semantics. Dirs are never overwritten, so lazy readers of the old
    version stay valid during a rewrite.
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------- paths
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _new_dir(self, manifest: dict, table: str, generation: int) -> str:
        """Fresh, never-reused directory for one write: gen=<g>.<k>.
        Writes NEVER overwrite an existing dir — a same-generation rewrite
        while a reader holds a lazy plan over the old dir would otherwise
        destroy the data under it. Old dirs are simply unreferenced by the
        manifest (Iceberg-style; GC is a separate concern)."""
        t = manifest["tables"].setdefault(
            table, {"current": None, "history": [], "mode": None, "dirs": {}}
        )
        # Monotone per-table write counter. Deriving the suffix from the
        # number of currently-referenced dirs is NOT monotone: a snapshot
        # rewrite replaces a reference without growing the count, and
        # compaction shrinks it — either can regenerate an in-use path and
        # overwrite data a lazy reader still holds. Older manifests lack
        # next_id; seed it past every suffix ever referenced.
        if "next_id" not in t:
            seen = [
                int(os.path.basename(p).rsplit(".", 1)[1])
                for ds in t["dirs"].values()
                for p in ds
            ]
            # Dereferenced dirs (post-compaction) are still on disk and may
            # still be lazily read — seed past those too.
            tdir = os.path.join(self.root, table)
            if os.path.isdir(tdir):
                for d in os.listdir(tdir):
                    if d.startswith("gen=") and "." in d:
                        try:
                            seen.append(int(d.rsplit(".", 1)[1]))
                        except ValueError:
                            pass
            t["next_id"] = (max(seen) + 1) if seen else 0
        k = t["next_id"]
        t["next_id"] = k + 1
        return os.path.join(self.root, table, f"gen={generation}.{k}")

    # ---------------------------------------------------------- manifest
    def _read_manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"tables": {}}
        with open(p) as f:
            return json.load(f)

    def _commit_manifest(self, manifest: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, self._manifest_path())  # atomic on POSIX

    # --------------------------------------------------------------- api
    def write(self, table: str, df: DataFrame, generation: int) -> None:
        """Full-snapshot write: generation dir holds the complete table."""
        self._write(table, df, generation, mode="snapshot")

    def write_append(self, table: str, df: DataFrame, generation: int) -> None:
        """Append-table write: generation dir holds only this generation's
        DELTA rows; read() returns the union of all deltas <= generation.
        This is the Iceberg append pattern — essential for monotone tables
        (seen set, metrics/lineage): a full rewrite would cost O(table)
        I/O per generation, which at a 10^10-row seen set is the whole
        job's budget."""
        self._write(table, df, generation, mode="append")

    def write_bucketed(
        self,
        table: str,
        df: DataFrame,
        generation: int,
        bucket_cols: tuple[str, ...] | None = None,
        n_buckets: int | None = None,
    ) -> None:
        """Bucketed-append write: deltas accumulate in ONE Spark bucketed
        external table (hash-bucketed + sorted by `bucket_cols`), so an
        equi-join on the bucket key needs NO exchange on this side — the
        storage-partitioned join Iceberg's bucket(N, col) transform gives.
        See write_many for the visibility/crash contract.

        bucket_cols/n_buckets default to ("url_hash",)/32 on the FIRST
        write; on later writes None means "keep the pinned spec" while an
        explicit differing value raises (the layout is frozen — see
        _bucketed_spec)."""
        explicit = bucket_cols is not None or n_buckets is not None
        spec = (
            list(bucket_cols) if bucket_cols is not None else ["url_hash"],
            n_buckets if n_buckets is not None else 32,
        )
        self.write_many(
            [(table, df, generation, "bucketed")],
            bucket_specs={table: spec}
            if explicit or self.table_mode(table) is None
            else None,
        )

    def _bucketed_spec(
        self, t: dict, table: str, df: DataFrame, bucket_specs: dict | None
    ) -> dict:
        """Fetch-or-create the manifest bucketed-table spec."""
        if "bucketed" in t:
            stored = t["bucketed"]
            req = (bucket_specs or {}).get(table)
            if req is not None and (
                list(req[0]) != stored["cols"] or int(req[1]) != stored["n"]
            ):
                # the layout is frozen at first write — silently appending
                # a re-tuned spec into the old bucketing would let the
                # caller believe they re-bucketed
                raise ValueError(
                    f"table {table!r} is bucketed as ({stored['cols']}, "
                    f"{stored['n']}); cannot re-bucket to {req} in place"
                )
            return stored
        spec = (bucket_specs or {}).get(table)
        if spec is None:
            raise ValueError(
                f"first bucketed write to {table!r} needs bucket_specs"
            )
        cols, n = spec
        # name carries a per-spec random tag, NOT a hash of the root path:
        # a store recreated at a previously used root (same session) must
        # get a FRESH catalog entry — a path-derived name would reuse the
        # stale one, whose cached file index points at the defunct store
        tag = os.urandom(5).hex()
        t["bucketed"] = {
            "cols": list(cols),
            "n": int(n),
            "location": os.path.join(self.root, table, "bucketed"),
            "name": f"ppss_{table}_{tag}",
            "gen_col": "generation",
            "schema_ddl": ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
            ),
        }
        return t["bucketed"]

    @staticmethod
    def _ensure_bucketed_registered(spark: SparkSession, spec: dict) -> None:
        """Re-register the external bucketed table in this session's
        catalog (the default in-memory catalog forgets it across sessions;
        the data + layout live in the location dir)."""
        if not spark.catalog.tableExists(spec["name"]):
            keys = ", ".join(spec["cols"])
            spark.sql(
                f"CREATE TABLE {spec['name']} ({spec['schema_ddl']}) "
                f"USING PARQUET CLUSTERED BY ({keys}) SORTED BY ({keys}) "
                f"INTO {spec['n']} BUCKETS LOCATION '{spec['location']}'"
            )

    def _write(self, table: str, df: DataFrame, generation: int, mode: str) -> None:
        self.write_many([(table, df, generation, mode)])

    def write_many(
        self,
        writes: list[tuple],
        bucket_specs: dict[str, tuple[list[str], int]] | None = None,
    ) -> dict[str, int]:
        """Multi-table transaction: all parquet dirs are written first,
        then ONE manifest commit makes every table's new version visible
        atomically. A crash mid-way leaves the previous manifest intact —
        no table can be observed at generation g while a sibling is still
        at g-1 (the cross-table consistency Iceberg transactions give;
        run_generation commits frontier+seen+metrics this way).

        Each write is a Write: (table, df, generation, mode) with two
        optional fields. `meta` is a JSON-able dict that the same
        manifest commit stores as the table's record (table_meta); a
        write without one drops the table's record, so no record
        outlives the data it describes. `rows` is the number of rows df
        holds, when the caller knows it: such a write is coalesced to
        ceil(rows / ROWS_PER_FILE) partitions, so its files follow its
        size rather than its plan's partitioning (a bucketed append gets
        that many files per bucket). coalesce only merges partitions: it
        adds no shuffle and no job. A write whose last stage is a shuffle
        is already sized by AQE and needs no count.

        Every write carries an Observation of its row count, which fires
        in the write's own job. The manifest records it for each
        directory write (rows()), the commit logs each table's rows and
        files, and the return value maps each table to the rows this
        commit wrote.

        The per-table writes launch CONCURRENTLY (one thread per table;
        Spark schedules jobs from multiple threads into the same pool):
        the commit's wall cost becomes ~max over the table writes
        instead of their sum. For the generation loop — whose deltas are
        small and whose commit is dominated by per-job scheduling
        latency, not I/O — this is the difference between 5-6 serialized
        job latencies per generation and one. Bucketed appends write into
        the live table, so they run only after every directory write has
        succeeded. Manifest bookkeeping stays sequential on the driver; any
        write failure aborts before the manifest commit, so the crash
        contract is unchanged."""
        from concurrent.futures import ThreadPoolExecutor

        manifest = self._read_manifest()
        jobs: list = []
        appends: list = []
        counted: list = []  # (table, generation, observation, dir or None)
        for w in writes:
            table, df, generation, mode, meta, rows = Write(*w)
            table_mode = "append" if mode == "compact" else mode
            t = manifest["tables"].setdefault(
                table, {"current": None, "history": [], "mode": table_mode, "dirs": {}}
            )
            if t.get("mode") is None:
                t["mode"] = table_mode
            if t["mode"] != table_mode:
                raise ValueError(
                    f"table {table!r} is {t['mode']}-mode; cannot {mode}-write"
                )
            t.pop("meta", None)
            if meta:
                t["meta"] = meta
            obs = Observation()
            out = df.observe(obs, F.count(F.lit(1)).alias("n"))
            if rows is not None:
                out = out.coalesce(max(1, math.ceil(rows / ROWS_PER_FILE)))
            if mode == "bucketed":
                # Append into the ONE bucketed external table; visibility is
                # gated by `gen_col <= current` at read, not by dir refs.
                # Crash contract: rows appended by a commit that fails at
                # or after its bucketed appends (which run last, once every
                # dir write succeeded) become visible once a LATER commit
                # records generation >= g — so bucketed mode is ONLY for
                # idempotent membership tables
                # (duplicate seen rows are inert: left_anti ignores them,
                # bloom bits OR idempotently). Appends never rewrite files,
                # so lazy readers stay valid (their file listing is frozen
                # at plan time).
                spec = self._bucketed_spec(t, table, df, bucket_specs)
                self._ensure_bucketed_registered(df.sparkSession, spec)
                appends.append((
                    spec["location"],
                    lambda out=out, spec=spec: (
                        out.write.format("parquet")
                        .bucketBy(spec["n"], *spec["cols"])
                        .sortBy(*spec["cols"])
                        .mode("append")
                        .saveAsTable(spec["name"])
                    ),
                ))
                counted.append((table, generation, obs, None))
                t["current"] = generation
                if generation not in t["history"]:
                    t["history"].append(generation)
                continue
            path = self._new_dir(manifest, table, generation)
            jobs.append(
                lambda out=out, path=path: out.write.mode("overwrite").parquet(path)
            )
            counted.append((table, generation, obs, path))
            g = str(generation)
            if mode == "snapshot":
                t["dirs"][g] = [path]  # replaces the reference, not the old dir
            elif mode == "compact":
                # append-table compaction: the written df IS the merged
                # state; all prior deltas are dereferenced (Iceberg
                # snapshot-expiry analog — time travel before the
                # compaction point is gone, by design)
                t["dirs"] = {g: [path]}
                t["history"] = []
            else:
                t["dirs"].setdefault(g, []).append(path)
            t["current"] = generation
            if generation not in t["history"]:
                t["history"].append(generation)
        if len(jobs) == 1:
            jobs[0]()
        elif jobs:
            with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
                futures = [pool.submit(j) for j in jobs]
                for f in futures:
                    f.result()  # re-raise the first failure BEFORE commit
        appended_files = {}
        for location, append in appends:
            before = _part_files(location)
            append()
            appended_files[location] = len(_part_files(location) - before)
        # the writes above fired every observation: get() launches nothing
        written: dict[str, int] = {}
        report = []
        for table, generation, obs, path in counted:
            n = int(observed(obs, {"n": 0})["n"])
            written[table] = written.get(table, 0) + n
            t = manifest["tables"][table]
            if path is None:
                files = appended_files[t["bucketed"]["location"]]
            else:
                files = len(_part_files(path))
                t.setdefault("rows", {})[path] = n
            report.append(f"{table}@{generation} {n} rows/{files} files")
        for t in manifest["tables"].values():
            # records of dereferenced dirs (compaction, snapshot rewrite)
            # go with their reference
            if "rows" in t:
                live = {p for ds in t["dirs"].values() for p in ds}
                t["rows"] = {p: n for p, n in t["rows"].items() if p in live}
        self._commit_manifest(manifest)
        log.info("commit %s: %s", self.root, ", ".join(report))
        return written

    def read(
        self, spark: SparkSession, table: str, generation: int | None = None
    ) -> DataFrame:
        manifest = self._read_manifest()
        t = manifest["tables"].get(table)
        if t is None:
            raise FileNotFoundError(f"no snapshots for table {table!r}")
        gen = t["current"] if generation is None else generation
        if gen not in t["history"]:
            raise FileNotFoundError(f"table {table!r} has no generation {gen}")
        if t.get("mode") == "bucketed":
            spec = t["bucketed"]
            self._ensure_bucketed_registered(spark, spec)
            # reads MUST go through spark.table (not the path): only the
            # catalog scan carries the bucketing, which is what lets the
            # seen-side anti-join skip its exchange
            return spark.table(spec["name"]).filter(F.col(spec["gen_col"]) <= gen)
        return spark.read.parquet(*self._paths(t, gen))

    @staticmethod
    def _paths(t: dict, gen: int) -> list[str]:
        """The dirs a directory-mode table's version `gen` reads."""
        if t.get("mode", "snapshot") == "append":
            return [
                p
                for g in sorted(t["history"])
                if g <= gen
                for p in t["dirs"][str(g)]
            ]
        return t["dirs"][str(gen)]

    def rows(self, table: str) -> int | None:
        """Rows in the table's current version: the sum of the row counts
        write_many recorded for the dirs it reads. None — never 0 — when
        a dir has no record (a store from before the records), when the
        table has no version, and for bucketed tables (a failed commit
        can leave appended rows that a later version shows)."""
        t = self._read_manifest()["tables"].get(table)
        if t is None or t["current"] is None or t.get("mode") == "bucketed":
            return None
        recs = t.get("rows", {})
        paths = self._paths(t, t["current"])
        if any(p not in recs for p in paths):
            return None
        return sum(recs[p] for p in paths)

    def read_or_none(self, spark: SparkSession, table: str) -> DataFrame | None:
        """read() of the current version, or None when the table has no
        snapshot yet (a fresh store, or one from before the table
        existed)."""
        try:
            return self.read(spark, table)
        except FileNotFoundError:
            return None

    def table_meta(self, table: str) -> dict:
        """The record the table's last write stored (write_many), or {}."""
        t = self._read_manifest()["tables"].get(table)
        return {} if t is None else t.get("meta", {})

    def table_mode(self, table: str) -> str | None:
        t = self._read_manifest()["tables"].get(table)
        return None if t is None else t.get("mode")

    def current_generation(self, table: str) -> int | None:
        t = self._read_manifest()["tables"].get(table)
        return None if t is None else t["current"]

    def generations(self, table: str) -> list[int]:
        t = self._read_manifest()["tables"].get(table)
        return [] if t is None else sorted(t["history"])
