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
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SnapshotStore:
    """Versioned parquet tables under root/: <table>/gen=<n>.<k>/ dirs
    referenced by a manifest (Iceberg manifest pattern). Three table modes:
    snapshot (each generation dir is the full table), append (each
    generation dir is a delta; reads union all deltas <= generation), and
    bucketed (deltas append into one Spark bucketed external table — the
    Iceberg bucket(N, col) partition-transform analog — so equi-joins on
    the bucket key skip the exchange on this side; for idempotent
    membership tables like the URL-seen set).

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
    ) -> None:
        """Multi-table transaction: all parquet dirs are written first,
        then ONE manifest commit makes every table's new version visible
        atomically. A crash mid-way leaves the previous manifest intact —
        no table can be observed at generation g while a sibling is still
        at g-1 (the cross-table consistency Iceberg transactions give;
        run_generation commits frontier+seen+metrics this way).

        Each write is (table, df, generation, mode), with an optional
        fifth element: a JSON-able dict that the same manifest commit
        stores as the table's record (table_meta). A write without one
        drops the table's record, so no record outlives the data it
        describes.

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
        for table, df, generation, mode, *meta in writes:
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
            if meta and meta[0]:
                t["meta"] = meta[0]
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
                appends.append(
                    lambda df=df, spec=spec: (
                        df.write.format("parquet")
                        .bucketBy(spec["n"], *spec["cols"])
                        .sortBy(*spec["cols"])
                        .mode("append")
                        .saveAsTable(spec["name"])
                    )
                )
                t["current"] = generation
                if generation not in t["history"]:
                    t["history"].append(generation)
                continue
            path = self._new_dir(manifest, table, generation)
            jobs.append(
                lambda df=df, path=path: df.write.mode("overwrite").parquet(path)
            )
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
        for append in appends:
            append()
        self._commit_manifest(manifest)

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
        if t.get("mode", "snapshot") == "append":
            paths = [
                p
                for g in sorted(t["history"])
                if g <= gen
                for p in t["dirs"][str(g)]
            ]
        else:
            paths = t["dirs"][str(gen)]
        return spark.read.parquet(*paths)

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
