"""URL-seen set: exact hash-keyed table + partitioned bloom pre-filter.

north_rule: "partitioned bloom/cuckoo-filter URL-seen set keyed by
canonicalized+hashed URL". Reference analog: drop_duplicates on load
(load_input.py:294) and the `unique` dict in the record cleaner
(scripts/cleaner/record/clean.py:41-52) — exact, driver-memory-bound.

Design:
- exact membership = `seen` table (url_hash, host_hash, generation);
  unseen = left_anti join on url_hash. Collision note: xxhash64 over
  canonical URLs makes the seen set hash-keyed per the north_rule; at
  10^10 keys the expected number of 64-bit collisions is ~3 (birthday
  bound) — a false "seen" drops a URL, which crawl semantics tolerate.
- bloom pre-filter = bitmaps SHARDED BY url-hash bucket (uniform by
  construction — host-hash bucketing would concentrate a mega-host's
  keys in one bucket, making its build task hot and its FPR balloon),
  built distributively (applyInPandas per bucket, numpy bit-ops — no
  driver collection of keys), carried as a tiny DataFrame (bucket,
  bitmap) and collected once per pass into one flat broadcast bitmap.
- two plans (filter_unseen's exact_join): 'prebuilt' resolves the bloom
  AND the exact sorted-shard index in one narrow pandas UDF (no join
  operator) while the index fits executor memory; 'branch' tags rows
  with the bloom and sends only the "maybe seen" rows (true positives +
  FPs) through a left_anti join — the plan for a seen side too big to
  broadcast, and the only one that scans the bucketed seen layout in
  place. Both plans broadcast the whole bitmap array, so the bloom
  itself must fit executor memory.
- geometry: the constants N_BUCKETS = 64 url-hash buckets and K = 5
  bits a key, so no reader probes with another geometry than the
  writer's. Only the bits a bucket are sized, from the key count at
  BLOOM_FPR (bloom_bits: ~9.6 bits a key, each bitmap a power of two of
  at least 64 bits). The manifest records the key count and the bits a
  bucket; a commit that would push the count past capacity rebuilds the
  bloom from seen ∪ new at twice the count (SeenIndexTable): O(1)
  rebuilds a key, amortized, and one geometry per table. Readers take
  the bits a bucket from the bitmaps' byte length.
- SeenSide owns a store's seen side, a fresh store's included: it runs
  a commit's seen filter and admits its new URLs to every seen table.
"""

from __future__ import annotations

import logging
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .state import Write

log = logging.getLogger(__name__)

# splitmix64-style odd multipliers for double hashing (public-domain
# constants from the splitmix64 reference implementation)
_H1_MULT = np.uint64(0xBF58476D1CE4E5B9)
_H2_MULT = np.uint64(0x94D049BB133111EB)


# the bloom's fixed geometry: N_BUCKETS url-hash bitmaps, K bit positions
# a key. Every bloom and exact index of every store uses it (a reader
# probing with another K than the writer's would read seen keys as
# unseen); only the bits a bucket are sized, from the key count.
N_BUCKETS = 64
K = 5

# target false-positive rate of a store bloom, and the bits a key that
# buys: m/n = ln(1/p) / (ln 2)^2 ≈ 9.59 (K = 5 hashes gives ~1.1%)
BLOOM_FPR = 0.01
BITS_PER_KEY = math.log(1 / BLOOM_FPR) / math.log(2) ** 2


def bloom_bits(n: int) -> int:
    """Total bloom bits for n keys at BLOOM_FPR, rounded up so each of the
    N_BUCKETS bitmaps is a power of two of at least 64 bits. A geometry of
    N_BUCKETS × b bits holds n keys while bloom_bits(n) <= N_BUCKETS × b."""
    per_bucket = math.ceil(max(n, 1) * BITS_PER_KEY / N_BUCKETS)
    return N_BUCKETS * max(64, 1 << (per_bucket - 1).bit_length())


def _positions(url_hash: np.ndarray, m: int) -> np.ndarray:
    """K bit positions per key via double hashing: pos_i = h1 + i*h2 mod m.
    Vectorized: returns shape (K, len(keys))."""
    x = url_hash.astype(np.uint64)
    h1 = (x * _H1_MULT) >> np.uint64(1)
    h2 = ((x ^ (x >> np.uint64(31))) * _H2_MULT) | np.uint64(1)
    i = np.arange(K, dtype=np.uint64).reshape(-1, 1)
    return ((h1 + i * h2) % np.uint64(m)).astype(np.int64)


def _bucket_col():
    """Uniform bucket from url_hash's HIGH 32 bits. High bits are
    independent of the double-hash position arithmetic (whose low-20-bit
    values depend only on the key's low bits), so conditioning on the
    bucket doesn't constrain which bitmap slots a key can hit — low-bit
    bucketing would concentrate h1 positions on 1/N_BUCKETS of each
    bitmap."""
    return F.pmod(F.shiftrightunsigned(F.col("url_hash"), 32), F.lit(N_BUCKETS)).cast(
        "int"
    )


def build_bloom(seen: DataFrame, bits_per_bucket: int = 1 << 20) -> DataFrame:
    """seen(url_hash, ...) → (bucket, bitmap binary).

    Built fully distributed: one applyInPandas group per url-hash bucket
    (_bucket_col, the hash's high bits). The default geometry (64 × 1 Mbit,
    8 MB) holds ~7M keys at BLOOM_FPR; bloom_bits sizes it from a count."""
    m = bits_per_bucket

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m // 8, dtype=np.uint8)
        pos = _positions(pdf["url_hash"].to_numpy(), m).ravel()
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "bitmap": [bits.tobytes()]}
        )

    with_bucket = seen.withColumn("bucket", _bucket_col())
    return with_bucket.select("bucket", "url_hash").groupBy("bucket").applyInPandas(
        agg, schema=_BLOOM_SCHEMA
    )


_BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("bitmap", T.BinaryType()),
    ]
)


_EXACT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("keys", T.BinaryType()),
    ]
)


def build_exact_index(seen: DataFrame) -> DataFrame:
    """seen(url_hash, ...) → (bucket, keys binary): sorted DISTINCT
    int64 url_hash shards, bucketed by the same uniform url-hash-high-bits
    rule as the bloom.

    This is the EXACT membership structure of the seen set in a compact,
    broadcastable form (8 bytes/key — a 4M-key seen side is 32 MB,
    vs a driver-built JVM hash relation for the same keys). Like the
    bloom it is STATE: built distributed (applyInPandas per bucket),
    maintained incrementally via merge_exact_index over per-generation
    deltas, never rebuilt from the full seen table per pass. Membership
    is np.searchsorted — vectorized binary search, no per-pass serial
    hash-relation build (the Amdahl section that capped N→4N scaling of
    a broadcast anti-join). At 10^10 keys (80 GB) the index no longer
    broadcasts — use the branch path + bucketed seen layout instead."""

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = np.unique(pdf["url_hash"].to_numpy(dtype=np.int64))
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "keys": [keys.tobytes()]}
        )

    return (
        seen.withColumn("bucket", _bucket_col())
        .select("bucket", "url_hash")
        .groupBy("bucket")
        .applyInPandas(agg, schema=_EXACT_SCHEMA)
    )


def merge_exact_index(deltas: DataFrame) -> DataFrame:
    """Union-merge per-generation sorted-shard deltas into one sorted
    distinct shard per bucket (the exact-index analog of merge_bloom)."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = np.unique(
            np.concatenate(
                [np.frombuffer(b, dtype=np.int64) for b in pdf["keys"]]
            )
        )
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "keys": [keys.tobytes()]}
        )

    return deltas.groupBy("bucket").applyInPandas(merge, schema=_EXACT_SCHEMA)


def merge_bloom(deltas: DataFrame) -> DataFrame:
    """OR-merge per-generation delta bitmaps into one bitmap per bucket.

    The bloom table is maintained INCREMENTALLY (north_rule 10^10 scale):
    each generation appends a delta built from only that generation's new
    keys, so no generation ever rescans the full seen table — at a
    10^10-row seen set that rescan is the whole job. Merging is a tiny
    shuffle of (generations-since-compaction × N_BUCKETS) bitmap rows."""

    def or_reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        out = np.frombuffer(pdf["bitmap"].iloc[0], dtype=np.uint8).copy()
        for b in pdf["bitmap"].iloc[1:]:
            out |= np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "bitmap": [out.tobytes()]}
        )

    return deltas.groupBy("bucket").applyInPandas(or_reduce, schema=_BLOOM_SCHEMA)


class SeenIndexTable:
    """One seen-side delta table of a SnapshotStore — 'bloom' (bitmaps)
    or 'exact_index' (sorted url_hash shards) — and the single rule that
    maintains it.

    Both are maintained INCREMENTALLY (north_rule 10^10 scale): each
    commit appends a delta built from only its new keys (cost ∝ new
    rows) and readers merge the deltas (tiny: N_BUCKETS rows per delta),
    so no generation rescans the full seen table — at a 10^10-row seen
    set that rescan IS the job. A store without the table (a fresh one,
    branch-path history, or a run from before the table existed) gets a
    one-time backfill over seen ∪ new at its next write; compaction
    folds every delta into one. The bloom is built whole that way, for
    twice the key count, also when a commit would fill it past BLOOM_FPR
    or its record has no key count (a store from before the sizing).
    Which commits write the table is SeenSide.admit's rule."""

    def __init__(self, spark, store, table: str):
        self.table = table
        self.deltas = store.read_or_none(spark, table)
        # the bloom's {"keys", "bits_per_bucket"} record; {} without one
        self.meta = store.table_meta(table)

    def _fns(self):
        if self.table == "bloom":
            return build_bloom, merge_bloom
        return build_exact_index, merge_exact_index

    def merged(self) -> DataFrame | None:
        """The merged table, or None when the store has none yet."""
        return None if self.deltas is None else self._fns()[1](self.deltas)

    def entry(
        self, seen: DataFrame | None, new_keys: DataFrame, n_new: int, generation: int,
        compact: bool = False,
    ) -> Write:
        """write_many entry adding `new_keys` (url_hash, n_new rows) to the
        table, over the store's `seen` table (None on a fresh store)."""
        build, merge = self._fns()
        every = new_keys if seen is None else seen.select("url_hash").unionByName(new_keys)
        meta = None
        if self.table == "bloom":
            count, bits = self.meta.get("keys"), self.meta.get("bits_per_bucket")
            if count is None:  # no bloom, or one from before the sizing
                count, bits = (0 if seen is None else seen.count()), 0
            n = n_new + count
            if bloom_bits(n) > N_BUCKETS * bits:
                bits = bloom_bits(2 * n) // N_BUCKETS
                return Write(
                    "bloom", build(every, bits), generation, "compact",
                    {"keys": n, "bits_per_bucket": bits},
                )
            meta = {"keys": n, "bits_per_bucket": bits}
            delta = build(new_keys, bits)
        else:
            delta = build(every if self.deltas is None else new_keys)
        if not compact:
            return Write(self.table, delta, generation, "append", meta)
        if self.deltas is not None:
            delta = merge(self.deltas.unionByName(delta))
        return Write(self.table, delta, generation, "compact", meta)


class SeenSide:
    """The seen side of a SnapshotStore and its one owner: the exact
    `seen` table (None on a fresh store), its index tables as
    SeenIndexTable, the seen filter (unseen) and the one rule that
    records new URLs in all of them (admit). `layout` ('append' or
    'bucketed', see frontier.bootstrap) lays out a fresh store's seen
    table; a store that has one keeps the layout its manifest pins."""

    def __init__(self, spark, store, layout: str = "append"):
        if layout not in ("append", "bucketed"):
            # the layout is pinned forever in the manifest — a typo silently
            # coerced to 'append' would only surface as a scale regression
            raise ValueError(f"seen layout must be 'append' or 'bucketed', got {layout!r}")
        self.store = store
        self.seen = store.read_or_none(spark, "seen")
        self.layout = store.table_mode("seen") or layout
        self.index = {t: SeenIndexTable(spark, store, t) for t in ("bloom", "exact_index")}
        # the seen-filter plan unseen ran, and the index tables it merged
        self.plan, self.reads = None, ()

    def unseen(
        self, candidates: DataFrame, use_bloom: bool = True, exact_join: str = "branch",
    ) -> DataFrame:
        """filter_unseen(..., materialize=True) over this store. The plan
        merges exactly the index tables it reads (reads): the bloom when
        use_bloom, plus the exact index for exact_join='prebuilt'. One the
        store lacks is built from `seen` by filter_unseen, the one-time
        cost its backfill pays at admit. On a fresh store every candidate
        is unseen: no anti-join."""
        if self.seen is None:
            self.plan, self.reads = "plain", ()
            return _finish(candidates, True)
        self.plan = exact_join if use_bloom else "plain"
        self.reads = ()
        if use_bloom:
            self.reads = ("bloom", "exact_index") if exact_join == "prebuilt" else ("bloom",)
        merged = {t: self.index[t].merged() for t in self.reads}
        return filter_unseen(
            candidates, self.seen, use_bloom=use_bloom, materialize=True,
            bloom=merged.get("bloom"), exact_join=exact_join,
            exact_index=merged.get("exact_index"),
        )

    def admit(
        self, new_rows: DataFrame, n_new: int, generation: int, compact: bool = False,
    ) -> list:
        """write_many entries admitting `new_rows` (url_hash, host_hash),
        n_new rows (the bloom's key count grows by it, and the seen delta
        is written in files sized by it), in the store's seen layout.

        The bloom always gets a delta (or is built whole, SeenIndexTable),
        and the exact index does when the store has one — a stale index
        reads an admitted key as unseen — or when unseen's plan read it.
        Logs the seen-filter plan, what it merged and the bloom write."""
        entries = [Write(
            "seen",
            new_rows.select("url_hash", "host_hash", F.lit(generation).alias("generation")),
            generation, self.layout, rows=n_new,
        )]
        new_keys = new_rows.select("url_hash")
        for name, tbl in self.index.items():
            if name == "bloom" or tbl.deltas is not None or name in self.reads:
                entries.append(tbl.entry(self.seen, new_keys, n_new, generation, compact))
        bloom = next(w.meta for w in entries if w.table == "bloom")
        built = bloom["bits_per_bucket"] != self.index["bloom"].meta.get("bits_per_bucket")
        log.info(
            "seen side @%d: %s plan, merged %s; bloom %s, %d keys at %d bits a bucket",
            generation, self.plan, ", ".join(self.reads) or "no index",
            "built" if built else "delta", bloom["keys"], bloom["bits_per_bucket"],
        )
        return entries


def _bucket_np(url_hash: np.ndarray) -> np.ndarray:
    """numpy twin of _bucket_col: uniform bucket from url_hash's high 32
    bits. Computing it INSIDE the pandas UDF from the hash it already
    receives keeps the derived column out of the Arrow exchange
    (8 bytes/row on a 20M-row pass is ~160 MB of transfer for a value
    that's one shift+mod away)."""
    return ((url_hash.view(np.uint64) >> np.uint64(32)) % np.uint64(N_BUCKETS)).astype(
        np.int64
    )


def _collect_bitmap(bloom: DataFrame) -> tuple[np.ndarray, int]:
    """Collect the (bucket, bitmap) frame into one flat (N_BUCKETS * m/8)
    byte array and return it with m, the bits a bucket, read from the
    bitmaps' byte length: the global bit address of position p in bucket
    b is b * m + p, so the probe is a pure gather — no per-bucket Python
    loop. A frame whose bitmaps differ in length mixes geometries, which
    no probe can read: ValueError."""
    rows = bloom.collect()
    lengths = sorted({len(r["bitmap"]) for r in rows})
    if len(lengths) > 1:
        raise ValueError(f"bloom bitmaps mix byte lengths {lengths}")
    nbytes = lengths[0] if lengths else 8  # no rows: no keys, any m reads unseen
    bits_flat = np.zeros(N_BUCKETS * nbytes, dtype=np.uint8)
    for r in rows:
        b = int(r["bucket"])
        bits_flat[b * nbytes:(b + 1) * nbytes] = np.frombuffer(
            r["bitmap"], dtype=np.uint8
        )
    return bits_flat, nbytes * 8


def _might_contain(bits_flat: np.ndarray, uh: np.ndarray, m: int) -> np.ndarray:
    """Branch-free bloom test of int64 keys against a _collect_bitmap
    array: True where all K bits are set (maybe seen), False where the
    key is definitely unseen."""
    base = _bucket_np(uh) * (m // 8)
    pos = _positions(uh.view(np.uint64), m)
    hit = np.ones(len(uh), dtype=bool)
    for i in range(K):
        p = pos[i]
        hit &= (
            bits_flat[base + (p >> 3)] & (np.uint8(1) << (p & 7).astype(np.uint8))
        ) != 0
    return hit


def _unseen_udf(spark, bloom: DataFrame, exact_index: DataFrame):
    """Pandas UDF (url_hash) → unseen boolean: bloom pre-filter then
    exact searchsorted resolution of the maybe subset, all inside one
    Arrow batch — the 'prebuilt' strategy's entire seen filter.

    Both lookup structures are flattened at collect time so the per-batch
    test is vectorized numpy: the bitmaps via _collect_bitmap, and the
    exact shards union-merged into ONE globally sorted key array (the
    bucket partitioning exists for distributed build/maintenance, not
    for the broadcast probe)."""
    bits_flat, m = _collect_bitmap(bloom)
    shards = [
        np.frombuffer(r["keys"], dtype=np.int64) for r in exact_index.collect()
    ]
    keys_global = (
        np.sort(np.concatenate(shards)) if shards else np.zeros(0, dtype=np.int64)
    )
    bc_b = spark.sparkContext.broadcast(bits_flat)
    bc_i = spark.sparkContext.broadcast(keys_global)

    @F.pandas_udf("boolean")
    def is_unseen(url_hash: pd.Series) -> pd.Series:
        if len(url_hash) == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        uh = url_hash.to_numpy(dtype=np.int64)
        maybe = _might_contain(bc_b.value, uh, m)
        seen_mask = np.zeros(len(uh), dtype=bool)
        if maybe.any():
            keys = bc_i.value
            if len(keys):
                v = uh[maybe]
                p = np.clip(np.searchsorted(keys, v), 0, len(keys) - 1)
                seen_mask[maybe] = keys[p] == v
        return pd.Series(~seen_mask)

    return is_unseen


def bloom_filter_candidates(candidates: DataFrame, bloom: DataFrame) -> DataFrame:
    """Tag candidates with maybe_seen. The bitmaps are collected once and
    broadcast to workers; membership is a scalar pandas UDF over url_hash
    — a narrow map, NO shuffle, and only the hash long crosses the Arrow
    channel (candidate rows stay in the JVM)."""
    bits_flat, m = _collect_bitmap(bloom)
    bc = candidates.sparkSession.sparkContext.broadcast(bits_flat)

    @F.pandas_udf("boolean")
    def might_contain(url_hash: pd.Series) -> pd.Series:
        if len(url_hash) == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        return pd.Series(_might_contain(bc.value, url_hash.to_numpy(dtype=np.int64), m))

    return candidates.withColumn("maybe_seen", might_contain(F.col("url_hash")))


def _finish(out: DataFrame, materialize: bool) -> DataFrame:
    """filter_unseen's materialize contract: persist + force the result
    and expose the forced row count as `out.materialized_count`."""
    if materialize:
        out = out.persist()
        out.materialized_count = out.count()
    return out


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    use_bloom: bool = True,
    materialize: bool = False,
    bloom: DataFrame | None = None,
    exact_join: str = "branch",
    exact_index: DataFrame | None = None,
) -> DataFrame:
    """Rows of `candidates` whose url_hash is not in `seen`.

    use_bloom=False: the plain left_anti join (the reference result).

    bloom: prebuilt (bucket, bitmap) frame (e.g. the incrementally
    maintained store table via merge_bloom); its geometry is read from
    the bitmaps. When omitted, the bloom is built from the full seen
    table, sized by bloom_bits from its count — an O(|seen|) rescan
    acceptable for one-shot use, NOT per generation at scale.

    exact_join='branch' (default): two-branch union — definitely-unseen
    rows bypass the exact join as a separate plan branch; maybe-seen
    rows get the exact left_anti (resolves bloom false positives).
    Correct under ANY join strategy, including the bucketed
    storage-partitioned seen layout; costs one cache of the tagged frame
    (both branches consume it).
    exact_join='prebuilt': bloom test AND exact resolution in ONE narrow
    pandas UDF — the exact side is the incrementally-maintained sorted
    int64 shard index (build_exact_index / merge_exact_index; built from
    `seen` when exact_index is omitted), broadcast as compact numpy
    arrays; membership is vectorized np.searchsorted on the bloom-maybe
    subset only. NO join operator and NO per-pass serial hash-relation
    build — the whole seen filter is a narrow map, so the pass's only
    non-parallel cost is the bitmap+index collect/broadcast: 8 bytes a
    key for the index plus 1.2–4.8 for a store bloom (SeenIndexTable).
    Valid while the index fits executor memory; at 10^10 keys use the
    branch path + bucketed layout.

    materialize=True: persist + force the RESULT, then release the
    intermediate cache. Use when the caller consumes the result more than
    once (count + snapshot writes) — uncached, each consumer re-runs the
    candidate lineage and the membership pass. Caller owns unpersist() of
    the returned frame; the forced row count is exposed as
    `out.materialized_count` so callers don't pay a second count job."""
    # NOTE: no .distinct() on the seen side — left_anti semantics ignore
    # duplicate matches, and a distinct would shuffle the full seen table
    # (10^10 rows at target scale) before every generation's join.
    if exact_join not in ("branch", "prebuilt"):
        raise ValueError(
            f"exact_join must be 'branch' or 'prebuilt', got {exact_join!r}"
        )
    if not use_bloom:
        return _finish(
            candidates.join(seen.select("url_hash"), "url_hash", "left_anti"),
            materialize,
        )
    if bloom is None:
        # Ad-hoc one-shot build (callers on the per-generation path pass
        # the incrementally-maintained store bloom instead), sized from
        # the seen count like a store bloom; the count job is one cheap
        # pass over a table this path only ever sees at one-shot scale.
        bloom = build_bloom(seen, bloom_bits(seen.count()) // N_BUCKETS)
    if exact_join == "prebuilt":
        if exact_index is None:
            exact_index = build_exact_index(seen)
        return _finish(
            candidates.filter(
                _unseen_udf(candidates.sparkSession, bloom, exact_index)(F.col("url_hash"))
            ),
            materialize,
        )
    # persist: both branches (definitely-unseen ∪ resolved-maybe) consume
    # `tagged`; without a cache each union branch re-runs the candidate
    # lineage AND the bloom check
    tagged = bloom_filter_candidates(candidates, bloom).persist()
    definitely_unseen = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    resolved = maybe.join(seen.select("url_hash"), "url_hash", "left_anti")
    out = _finish(definitely_unseen.unionByName(resolved), materialize)
    if materialize:
        tagged.unpersist()
    return out
