"""Spark encode / decode / verify jobs.

Pipeline (SURVEY.md §3.2-3.3 generalized to Spark):

encode:  plan.project(df)  → salt/bucket assignment (skew pre-pass)
         → one pass: repartitionById(n_buckets, __bucket) +
           sortWithinPartitions(__bucket, keys) + mapInArrow, so bucket b
           is encoded INSIDE shuffle task b (one bucket per task) and the
           corpus is materialized once (the shuffle files)
         → per-bucket encode: stream record batches, cut size-capped
           row-aligned stripes, encode each column to a framed block,
           write blocks+lineage, append a checkpoint marker line
           [imperative by design: per-partition checkpoint/resume semantics
           Spark's job-atomic committer cannot express — north_rule
           "resumable from checkpoint"]

decode:  read blocks parquet → mapInArrow reassembles each stripe as its
         (file-contiguous) blocks stream past, no shuffle → rows with the
         planned schema

verify:  decoded ⋈ source on key_cols (sort-merge; both sides large),
         sha256 equality per content column (input_hint invariant)

Determinism: the within-bucket row order is total (unique keys), stripe cuts
depend only on that row sequence, and codecs are deterministic, so re-running
a bucket yields byte-identical blocks — markers are safe.
Local filesystem warehouse here; on a cluster, point ``warehouse`` at shared
storage (pyarrow reads s3:///hdfs:// via fsspec) — layout is unchanged.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc  # explicit: `import pyarrow` alone does not load it
import pyarrow.parquet as pq

from . import blocks as B
from .plan import EncodePlan

BLOCKS_SCHEMA = pa.schema([
    ("stripe", pa.int64()),
    ("column", pa.string()),
    ("codec", pa.string()),
    # multi-block cells: -1 = whole-column block; >= 0 = fragment index of a
    # single cell split across blocks (blocks.encode_cell_fragments)
    ("frag", pa.int64()),
    ("n_rows", pa.int64()),
    ("bytes_in", pa.int64()),
    ("bytes_out", pa.int64()),
    # zone map: per-block min/max for integer columns (null otherwise) —
    # stripe-level scan pruning at decode (the block-store analog of
    # parquet row-group statistics / Iceberg metrics)
    ("vmin", pa.int64()),
    ("vmax", pa.int64()),
    # string/binary zone map: parquet-style TRUNCATED bounds on the UTF-8
    # bytes — smin is a <=16-byte prefix of the true min (a valid lower
    # bound); smax is the 16-byte prefix of the true max with its last
    # non-0xFF byte incremented (a valid upper bound; null = unbounded)
    ("smin", pa.binary()),
    ("smax", pa.binary()),
    ("block", pa.large_binary()),
])

_ZONE_PREFIX = 16


def _zone_str_bounds(mn: bytes, mx: bytes):
    """Order-preserving truncation of raw byte bounds (the parquet
    statistics-truncation rule): prefix for the min; prefix+increment for
    the max (rightmost byte < 0xFF bumps, suffix drops; an all-0xFF prefix
    has no finite upper bound → None)."""
    smin = mn[:_ZONE_PREFIX]
    if len(mx) <= _ZONE_PREFIX:
        smax = mx
    else:
        p = bytearray(mx[:_ZONE_PREFIX])
        i = len(p) - 1
        while i >= 0 and p[i] == 0xFF:
            i -= 1
        smax = bytes(p[: i] + bytes([p[i] + 1])) if i >= 0 else None
    return smin, smax


def _is_bytes_like(t) -> bool:
    """String and binary types, plain or large: the columns that carry
    string zone bounds and may hold a multi-block cell."""
    return (pa.types.is_string(t) or pa.types.is_binary(t)
            or pa.types.is_large_string(t) or pa.types.is_large_binary(t))


def _as_binary(arr):
    """A bytes-like array as (large_)binary, so min/max and slices work on
    raw bytes (Spark's UTF8String/binary order)."""
    large = (pa.types.is_large_string(arr.type)
             or pa.types.is_large_binary(arr.type))
    return arr.cast(pa.large_binary() if large else pa.binary())


LINEAGE_SCHEMA = pa.schema([
    ("stripe", pa.int64()),
    ("column", pa.string()),
    ("codec", pa.string()),
    ("n_rows", pa.int64()),
    ("bytes_in", pa.int64()),
    ("bytes_out", pa.int64()),
    ("enc_ms", pa.float64()),
])


# --------------------------------------------------------------------------
# bucket / salt assignment (the skew pre-pass, SURVEY.md §4.2 item 2)
# --------------------------------------------------------------------------

def assign_buckets(df, plan: EncodePlan, n_buckets: int,
                   target_salt_bytes: int = 16 << 20,
                   salt_sample_fraction: float = 1.0):
    """Add a ``__bucket`` column.

    With a partition column (e.g. ``repo``): a cheap aggregation measures
    bytes per value; values bigger than ``target_salt_bytes`` get a salt
    fan-out proportional to their size, so one giant repo spreads over many
    buckets while small repos stay co-located (dictionary/FSST tables like
    locality).  The salt map is tiny → broadcast join.

    ``salt_sample_fraction < 1`` sizes repos from a SEEDED row sample
    (estimated bytes = sample bytes / fraction): the sizing pass otherwise
    re-scans every content byte just to find the few giant values, a whole
    extra pass over the corpus (at 100 TB, the skew statistics job must
    sample — this is what AQE's runtime skew stats do too).  The seed is
    fixed, so the salt map — and with it the bucket layout and resume —
    stays deterministic for the same input.
    Giant values are exactly the ones a uniform sample cannot miss (they
    hold many rows / most bytes); a value whose size is underestimated
    still lands within ~1/fraction of its true salt fan-out, which the
    stripe cap absorbs.
    """
    from pyspark.sql import functions as F

    str_cols = [f.name for f in df.schema.fields
                if f.dataType.typeName() in ("string", "binary")
                and f.name in plan.column_names]
    weight = sum((F.length(F.coalesce(F.col(c), F.lit(""))) for c in str_cols[1:]),
                 F.length(F.coalesce(F.col(str_cols[0]), F.lit("")))) \
        if str_cols else F.lit(8) * len(plan.specs)
    pcol = plan.partition_col
    key_hash = F.xxhash64(*[F.col(k) for k in plan.key_cols]) if plan.key_cols \
        else F.xxhash64(*[F.col(c) for c in df.columns])
    if not pcol:
        return df.withColumn("__bucket", F.pmod(key_hash, F.lit(n_buckets)).cast("int"))
    # CONTENT-PURE sampling, not df.sample(): Bernoulli sampling is a
    # function of the input partitioning (split layout varies with file
    # sizes, maxPartitionBytes, and defaultParallelism), so the same data
    # on a different cluster size would yield a different salt map — and
    # with it a different bucket layout, which a resume must
    # never see (completed buckets are anti-joined out by id; a layout
    # shift would silently lose/duplicate rows).  A hash filter over the
    # row key is a pure function of row CONTENT: same input → same sample
    # → same salt map, on any partitioning.
    if salt_sample_fraction >= 1.0:
        src = df
    else:
        thresh = int(salt_sample_fraction * 10000)
        src = df.filter(
            F.pmod(F.xxhash64(key_hash, F.lit("saltsample")),
                   F.lit(10000)) < thresh)
    scale = 1.0 / min(max(salt_sample_fraction, 1e-9), 1.0)
    sizes = (src.groupBy(pcol).agg((F.sum(weight) * F.lit(scale)).alias("__bytes"))
             .withColumn("__salt_k",
                         F.greatest(F.lit(1),
                                    F.ceil(F.col("__bytes") / target_salt_bytes))
                         .cast("int"))
             .select(pcol, "__salt_k"))
    out = (df.join(F.broadcast(sizes), on=pcol, how="left")
             .withColumn("__salt", F.pmod(key_hash, F.coalesce("__salt_k", F.lit(1))))
             .withColumn("__bucket",
                         F.pmod(F.xxhash64(F.col(pcol), F.col("__salt")),
                                F.lit(n_buckets)).cast("int"))
             .drop("__salt_k", "__salt"))
    return out


# --------------------------------------------------------------------------
# encode
# --------------------------------------------------------------------------

def _row_sizes(batch: pa.RecordBatch) -> np.ndarray:
    """Exact per-row data bytes (var-width columns via offset diffs,
    fixed-width via type width) — the honest basis for the stripe cap."""
    n = batch.num_rows
    sizes = np.zeros(n, dtype=np.int64)
    for col in batch.columns:
        t = col.type
        if pa.types.is_string(t) or pa.types.is_binary(t):
            off = np.frombuffer(col.buffers()[1], dtype=np.int32,
                                count=n + 1, offset=col.offset * 4)
            sizes += np.diff(off.astype(np.int64)) + 4
        elif pa.types.is_large_string(t) or pa.types.is_large_binary(t):
            off = np.frombuffer(col.buffers()[1], dtype=np.int64,
                                count=n + 1, offset=col.offset * 8)
            sizes += np.diff(off) + 8
        elif pa.types.is_boolean(t):
            sizes += 1
        else:
            try:
                sizes += max(t.bit_width // 8, 1)
            except ValueError:      # nested/param types: rough floor
                sizes += 8
    return sizes


def _stripe_iter_batches(batch_iter, stripe_bytes):
    """Yield row-aligned arrow Tables, each <= stripe_bytes unless a SINGLE
    row alone exceeds the cap (that row is then isolated into its own
    stripe — the multi-block-cell path fragments it further at encode).

    Cuts use EXACT per-row byte sizes (not a uniform-row estimate):
    ``searchsorted(side="right")`` takes the longest prefix whose byte sum
    fits the remaining room, so the cap is honored exactly — including on a
    fresh stripe, where an oversized row never drags a neighbor with it.

    Cut positions depend ONLY on the row sequence and per-row byte sizes —
    never on how the input is batched — so a bucket's stripes, and with
    them its block bytes, are a pure function of its row sequence, however
    the shuffle happens to batch it."""
    buf, buf_bytes = [], 0
    for batch in batch_iter:
        if batch.num_rows == 0:
            continue
        sizes = _row_sizes(batch)
        cum = np.cumsum(sizes)
        lo = 0
        while lo < batch.num_rows:
            room = stripe_bytes - buf_bytes
            if buf_bytes and int(sizes[lo]) > room:
                # next row alone overflows the open stripe: close it so
                # an oversized row starts (and fills) its own stripe
                yield pa.Table.from_batches(buf)
                buf, buf_bytes = [], 0
                room = stripe_bytes
            base = int(cum[lo - 1]) if lo else 0
            # longest prefix with byte sum <= room; max(..., lo+1) is the
            # progress guarantee when a single row alone exceeds the cap
            hi = int(np.searchsorted(cum, base + room, side="right"))
            hi = min(max(hi, lo + 1), batch.num_rows)
            buf.append(batch.slice(lo, hi - lo))
            buf_bytes += int(cum[hi - 1]) - base
            if buf_bytes >= stripe_bytes:
                yield pa.Table.from_batches(buf)
                buf, buf_bytes = [], 0
            lo = hi
    if buf:
        yield pa.Table.from_batches(buf)


def _pin_arrow_threads() -> None:
    """One arrow thread per executor python worker: each worker is already a
    parallelism unit — N workers × default pa.cpu_count() threads oversubscribe
    the box ~32× and collapse per-task throughput."""
    try:
        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
    except Exception:
        pass


def _iter_bucket_runs(batches, cols):
    """Split a stream of arrow batches sorted by ``__bucket`` into
    ``(bucket_id, sub_batch)`` pairs at bucket transitions.  The encode
    places bucket b in shuffle partition b, so a task sees one bucket id
    and grouping the pairs with ``itertools.groupby`` yields that bucket's
    full row sequence; the split only guards the id against the data."""
    for b in batches:
        if b.num_rows == 0:
            continue
        vals = np.asarray(b.column("__bucket"))
        cut = np.flatnonzero(vals[1:] != vals[:-1]) + 1
        bounds = [0, *cut.tolist(), len(vals)]
        data = b.select(cols)
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            yield int(vals[lo]), data.slice(lo, hi - lo)


class _MarkerShard:
    """Append-only per-task marker shard: one ``markers/shard_*.jsonl``
    file per task ATTEMPT, one JSON line per completed bucket, flushed as
    soon as the bucket's blocks are published.  Each encode task holds one
    bucket, so a fresh encode writes one shard per encoded bucket (plus
    one per retried or speculative attempt).

    Crash semantics match a per-bucket atomic rename under the engine's
    process-kill model: a line is written only AFTER its bucket's
    blocks+lineage replace, a torn tail line fails to parse and is skipped
    by the reader (that bucket simply redoes), and duplicate-attempt lines
    are benign (byte-identical blocks; the resume counts a bucket once)."""

    def __init__(self, warehouse: str):
        self._dir = os.path.join(warehouse, "markers")
        self._f = None

    def __call__(self, marker: dict) -> None:
        if self._f is None:
            os.makedirs(self._dir, exist_ok=True)
            name = f"shard_{os.getpid()}_{uuid.uuid4().hex[:8]}.jsonl"
            self._f = open(os.path.join(self._dir, name), "a")
        self._f.write(json.dumps(marker) + "\n")
        self._f.flush()


def _marker_paths(warehouse: str) -> list:
    """Every marker file: task shards plus legacy per-bucket files (written
    by older engine versions, still honored on resume)."""
    mdir = os.path.join(warehouse, "markers")
    return (sorted(glob.glob(os.path.join(mdir, "shard_*.jsonl")))
            + sorted(glob.glob(os.path.join(mdir, "bucket_*.json"))))


def _read_markers(path: str) -> list:
    """The markers in one marker file.  A shard holds one marker per line;
    a torn tail line (task killed mid-append) fails to parse and is skipped
    — that bucket simply redoes.  A legacy per-bucket file holds one whole
    marker."""
    with open(path) as f:
        if not path.endswith(".jsonl"):
            return [json.load(f)]
        out = []
        for line in f:
            try:
                out.append(json.loads(line))
            except ValueError:
                continue
        return out


def _compact_markers(warehouse: str, keep) -> list:
    """Drop every marker for which ``keep(marker)`` is false and return the
    kept ones.  Each shard is rewritten to its kept lines (atomic tmp +
    replace) or removed when none remain; a legacy per-bucket file is
    removed unless kept.  Torn lines are dropped on the way."""
    out = []
    for p in _marker_paths(warehouse):
        kept = [m for m in _read_markers(p) if keep(m)]
        out += kept
        if not kept:
            os.remove(p)
        elif p.endswith(".jsonl"):
            tmp = f"{p}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                f.writelines(json.dumps(m) + "\n" for m in kept)
            os.replace(tmp, p)
    return out


def list_markers(warehouse: str) -> list:
    """Every marker currently published, torn lines skipped, one dict per
    bucket (ops/test hook — a resume reads the markers while it compacts
    them, in :func:`_compact_markers`)."""
    out: dict = {}
    for p in _marker_paths(warehouse):
        for m in _read_markers(p):
            out.setdefault(int(m["bucket"]), m)
    return [out[b] for b in sorted(out)]


def invalidate_markers(warehouse: str, buckets) -> None:
    """Drop specific buckets' markers (ops/test hook — e.g. simulate lost
    output, or force selected buckets to re-encode on the next resume)."""
    drop = set(int(b) for b in buckets)
    _compact_markers(warehouse,
                     lambda m: int(m.get("bucket", -1)) not in drop)


def _encode_bucket_core(bucket: int, stripes, warehouse: str,
                        plan: EncodePlan, stripe_bytes: int,
                        fingerprint: str, marker_sink) -> dict:
    """Encode an iterator of row-aligned stripe Tables for one bucket,
    atomically publish blocks + lineage, then hand the checkpoint marker to
    ``marker_sink`` (a :class:`_MarkerShard`)."""
    wall0 = time.perf_counter()
    cols = plan.column_names
    bdir = os.path.join(warehouse, "blocks", f"bucket={bucket}")
    ldir = os.path.join(warehouse, "lineage")
    os.makedirs(bdir, exist_ok=True)
    os.makedirs(ldir, exist_ok=True)
    rows_out, lineage = [], []
    stripe = 0
    total_in = total_out = n_rows_total = 0
    # per-column encode context: FSST symbol table built on the first stripe
    # is reused across the bucket (plan-reuse, Encode.hs:560-566)
    ctxs = {name: B.EncodeContext() for name in cols}
    for table in stripes:
        for name in cols:
            spec = next(s for s in plan.specs if s.name == name)
            arr = table.column(name).combine_chunks()
            t0 = time.perf_counter()
            if (len(arr) == 1 and arr.null_count == 0
                    and _is_bytes_like(arr.type)
                    and arr.nbytes > stripe_bytes):
                # multi-block cell: a single cell above the stripe cap is
                # split across fragment blocks (the reference's cell-spans-
                # chunks continuation, Siphon.hs:612-616, at the cell level)
                frames = B.encode_cell_fragments(arr, stripe_bytes,
                                                 post=spec.post)
                ms = (time.perf_counter() - t0) * 1e3
                # zone stats for the single cell (on fragment 0) so a
                # zone_filter on this column never wrongly prunes the stripe.
                # Only the first _ZONE_PREFIX+1 bytes matter (prefix min;
                # prefix+1 decides whether the max gets truncate-and-bump),
                # so SLICE them from the arrow buffer — as_py() here would
                # materialize the whole multi-GiB cell as a python object a
                # second time (encode_cell_fragments already paid that once)
                head = pc.binary_slice(
                    _as_binary(arr), 0, _ZONE_PREFIX + 1)[0].as_py()
                total_len = arr.nbytes  # single cell: data bytes = cell len
                # emulate full-string semantics: if the cell is longer than
                # the prefix we sliced, pad logically by passing a >16-byte
                # stand-in (the bump path only inspects the first 16 bytes)
                mx = head if total_len <= _ZONE_PREFIX else head + b"\x00"
                smin, smax = _zone_str_bounds(head, mx)
                cell_bytes = arr.nbytes
                left = cell_bytes
                for fi, blk in enumerate(frames):
                    piece = min(stripe_bytes, left)
                    left -= piece
                    rows_out.append((stripe, name, "frag", fi, 1,
                                     piece, len(blk), None, None,
                                     smin if fi == 0 else None,
                                     smax if fi == 0 else None, blk))
                    lineage.append((stripe, name, "frag", 1,
                                    piece, len(blk), ms / len(frames)))
                    total_out += len(blk)
                total_in += cell_bytes
                continue
            blk = B.encode_block(arr, codec=spec.codec, ctx=ctxs[name],
                                 post=spec.post)
            ms = (time.perf_counter() - t0) * 1e3
            info = B.block_info(blk)
            bytes_in = arr.nbytes
            vmin = vmax = smin = smax = None
            if len(arr) - arr.null_count:
                if pa.types.is_integer(arr.type):
                    mm = pc.min_max(arr)
                    vmin, vmax = mm["min"].as_py(), mm["max"].as_py()
                elif _is_bytes_like(arr.type):
                    # byte-order min/max, then parquet-style truncation.
                    # large_* types included: a large-typed whole block
                    # without smin would be silently pruned by string zone
                    # filters (row loss).
                    mm = pc.min_max(_as_binary(arr))
                    smin, smax = _zone_str_bounds(mm["min"].as_py(),
                                                  mm["max"].as_py())
            rows_out.append((stripe, name, info["codec"], -1, len(arr),
                             bytes_in, len(blk), vmin, vmax, smin, smax, blk))
            lineage.append((stripe, name, info["codec"], len(arr),
                            bytes_in, len(blk), ms))
            total_in += bytes_in
            total_out += len(blk)
        n_rows_total += table.num_rows
        stripe += 1
    blocks_tbl = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows_out],
                  type=BLOCKS_SCHEMA.field(i).type)
         for i in range(len(BLOCKS_SCHEMA))],
        schema=BLOCKS_SCHEMA)
    lineage_tbl = pa.Table.from_arrays(
        [pa.array([r[i] for r in lineage],
                  type=LINEAGE_SCHEMA.field(i).type)
         for i in range(len(LINEAGE_SCHEMA))],
        schema=LINEAGE_SCHEMA)
    # atomic publish: UNIQUE tmp + rename, marker last (crash before marker
    # → redo).  The tmp name is unique per task ATTEMPT: Spark can run
    # duplicate attempts of the same bucket task (retry/speculation), and
    # two writers interleaving on one fixed tmp path could produce a torn
    # file.  With unique tmps every attempt writes a consistent file, and
    # byte-determinism makes the final last-replace-wins benign (identical
    # bytes).  (Defensive: the misalignment flake this was first suspected
    # for was actually the id()-keyed codec memo, see codecs/alphapack.py.)
    suffix = f"{os.getpid()}_{uuid.uuid4().hex[:8]}"
    tmp = os.path.join(bdir, f"_tmp_{suffix}.parquet")
    pq.write_table(blocks_tbl, tmp, compression="NONE")
    os.replace(tmp, os.path.join(bdir, "part-0.parquet"))
    ltmp = os.path.join(ldir, f"_tmp_{bucket}_{suffix}.parquet")
    pq.write_table(lineage_tbl, ltmp)
    os.replace(ltmp, os.path.join(ldir, f"bucket_{bucket}.parquet"))
    # the marker carries the FULL fingerprint (plan + input token + bucket
    # count + salt params), not just the plan hash: a resume against
    # changed input or a different bucketing must not trust stale markers.
    # One marker LINE appended to the task's shard file; see _MarkerShard
    # for the durability argument
    marker = {"bucket": bucket, "plan_hash": plan.plan_hash(),
              "fingerprint": fingerprint, "stripes": stripe,
              "rows": n_rows_total, "bytes_in": total_in, "bytes_out": total_out,
              "wall_s": round(time.perf_counter() - wall0, 3)}
    marker_sink(marker)
    return marker


# one stats tuple shape everywhere: (buckets, rows, bytes_in, bytes_out,
# task_wall_s); driver-side state stays O(n_buckets ints)
_STATS_ZERO = (0, 0, 0, 0, 0.0)


def _marker_stats(m: dict) -> tuple:
    return (1, m["rows"], m["bytes_in"], m["bytes_out"],
            float(m.get("wall_s", 0.0)))


def _stats_add(a: tuple, b: tuple) -> tuple:
    return tuple(x + y for x, y in zip(a, b))


def encode_table(spark, df, plan: EncodePlan, warehouse: str, *,
                 n_buckets: int = 32, stripe_bytes: int = 4 << 20,
                 target_salt_bytes: int = 64 << 20,
                 mode: str = "error", input_token: str = "",
                 fused: bool = True,
                 salt_sample_fraction: float = 1.0) -> dict:
    """Run the encode job; returns the manifest dict.

    mode: "error" (refuse existing warehouse), "overwrite", or "resume"
    (skip completed buckets — the checkpoint path).

    One pass: the per-bucket encode happens INSIDE the shuffle task
    (``repartitionById(__bucket)`` → ``sortWithinPartitions`` →
    ``mapInArrow``), so the corpus is materialized once (the shuffle
    files).  Bucket b goes to shuffle partition b: one bucket per task, so
    the buckets spread over the cores (hash placement stacked small ids —
    pmod(murmur3(b), 4) sends ids 0-3 to partitions 3, 3, 2, 3).  The task
    feeds its bucket's sorted batches straight into the per-bucket stripe
    encoder.  Driver state stays O(n_buckets ints); per-bucket stats come
    back as the mapInArrow output rows and are folded by a Spark
    aggregation, not a collect.

    Checkpoints are per bucket (marker lines, byte-identical blocks).  A
    resume reads the markers on the driver, keeps the buckets whose marker
    matches the full fingerprint (plan AND input AND bucket count AND salt
    params — a stale marker must never validate against a re-derived
    layout), and drops every other marker, block dir and lineage file; it
    runs no Spark job of its own before the encode.  It re-shuffles only
    the rows of the remaining buckets (completed buckets are anti-joined
    out BEFORE the shuffle).  The shuffle itself is not
    checkpointed: keeping shuffle output across executor loss at scale is
    Spark's job (external shuffle service or executor decommissioning), not
    the engine's.

    ``fused`` only accepts ``True`` (the former two-phase staged path was
    removed; ``fused=False`` raises rather than run something else).
    """
    import shutil

    from pyspark.sql import functions as F

    if not fused:
        raise ValueError("encode_table(fused=False): the staged encode path "
                         "was removed; the single-pass encode is the only "
                         "path (drop the argument)")
    manifest_path = os.path.join(warehouse, "manifest.json")
    if os.path.exists(warehouse) and os.listdir(warehouse):
        if mode == "error":
            raise FileExistsError(f"warehouse {warehouse} exists; use mode=overwrite/resume")
        if mode == "overwrite":
            shutil.rmtree(warehouse)
    os.makedirs(warehouse, exist_ok=True)

    # the fingerprint must pin EVERYTHING the bucket layout depends on:
    # the layout is re-derived at resume, so e.g. salt parameters changed
    # between runs would otherwise trust markers from the old layout —
    # silent row loss/duplication
    fingerprint = json.dumps(
        {"plan": plan.plan_hash(), "n_buckets": n_buckets,
         "input": input_token,
         "salt": [int(target_salt_bytes), round(float(salt_sample_fraction), 6)]},
        sort_keys=True)
    projected = plan.project(df)
    schema_ddl = projected.select(*plan.column_names).schema.simpleString()

    t0 = time.time()
    done: set = set()
    resumed_stats = _STATS_ZERO
    if mode == "resume":
        # stale state (plan / input / bucket count changed, or a bucket
        # without a valid marker) must not leak into the final warehouse
        for m in _compact_markers(
                warehouse, lambda m: m.get("fingerprint") == fingerprint):
            # duplicate attempts: count each bucket once (byte-identical
            # blocks make any copy equally valid)
            if m["bucket"] not in done:
                done.add(m["bucket"])
                resumed_stats = _stats_add(resumed_stats, _marker_stats(m))
        for p in glob.glob(os.path.join(warehouse, "blocks", "bucket=*")):
            if int(p.split("bucket=")[-1]) not in done:
                shutil.rmtree(p, ignore_errors=True)
        for p in glob.glob(os.path.join(warehouse, "lineage", "bucket_*.parquet")):
            if int(os.path.basename(p)[len("bucket_"):-len(".parquet")]) not in done:
                os.remove(p)

    bucketed = assign_buckets(projected, plan, n_buckets, target_salt_bytes,
                              salt_sample_fraction)
    if done:
        # completed buckets never enter the shuffle: anti-join against the
        # (tiny, broadcast) done set — the resume skip
        done_df = spark.createDataFrame(
            pa.table({"__bucket": pa.array(sorted(done), pa.int32())}))
        bucketed = bucketed.join(F.broadcast(done_df), "__bucket", "left_anti")

    order = plan.stage_order or plan.column_names
    plan_json = plan.to_json()
    cols = list(plan.column_names)
    wh, sb, fp = warehouse, stripe_bytes, fingerprint

    def encode_parts(batches):
        import itertools

        _pin_arrow_threads()
        p = EncodePlan.from_json(plan_json)
        out_schema = pa.schema([("bucket", pa.int64()), ("rows", pa.int64()),
                                ("bytes_in", pa.int64()),
                                ("bytes_out", pa.int64()),
                                ("wall_s", pa.float64())])

        sink = _MarkerShard(wh)
        for bucket, grp in itertools.groupby(
                _iter_bucket_runs(batches, cols), key=lambda t: t[0]):
            stripes = _stripe_iter_batches((s for _, s in grp), sb)
            m = _encode_bucket_core(bucket, stripes, wh, p, sb, fp, sink)
            yield pa.RecordBatch.from_pydict(
                {"bucket": [bucket], "rows": [m["rows"]],
                 "bytes_in": [m["bytes_in"]], "bytes_out": [m["bytes_out"]],
                 "wall_s": [m["wall_s"]]}, schema=out_schema)

    shuffled = (bucketed.repartitionById(n_buckets, F.col("__bucket"))
                .sortWithinPartitions("__bucket", *order))
    stats_df = shuffled.mapInArrow(
        encode_parts,
        "bucket bigint, rows bigint, bytes_in bigint, bytes_out bigint, "
        "wall_s double")
    agg = stats_df.agg(F.count("bucket").alias("n"),
                       F.sum("rows").alias("rows"),
                       F.sum("bytes_in").alias("bi"),
                       F.sum("bytes_out").alias("bo"),
                       F.sum("wall_s").alias("w")).collect()[0]
    encoded_stats = (int(agg["n"] or 0), int(agg["rows"] or 0),
                     int(agg["bi"] or 0), int(agg["bo"] or 0),
                     float(agg["w"] or 0.0))
    # corpus totals fold in resumed buckets' marker stats, so a post-resume
    # manifest reports the WHOLE warehouse, not just this run's increment
    totals = _stats_add(encoded_stats, resumed_stats)
    manifest = {
        "plan": json.loads(plan_json),
        "plan_hash": plan.plan_hash(),
        "schema_ddl": schema_ddl,
        "n_buckets": n_buckets,
        "stripe_bytes": stripe_bytes,
        "fused": True,
        "buckets_encoded_this_run": encoded_stats[0],
        "buckets_resumed": len(done),
        "rows": totals[1],
        "bytes_in": totals[2],
        "bytes_out": totals[3],
        # single phase: the shuffle is not separable from the encode
        "stage_sec": 0.0,
        "encode_sec": round(time.time() - t0, 3),
        "task_wall_sec": round(encoded_stats[4], 3),
        "fingerprint": fingerprint,
    }
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


# --------------------------------------------------------------------------
# decode
# --------------------------------------------------------------------------

def read_manifest(warehouse: str) -> dict:
    with open(os.path.join(warehouse, "manifest.json")) as f:
        return json.load(f)


def _read_blocks(spark, warehouse: str):
    """The warehouse's blocks table, its schema taken from one bucket
    file's footer (what Spark's inference reads too, minus the one-task
    inference job it runs per call) plus the ``bucket`` partition column.
    Warehouses written before multi-block cells have no ``frag`` column:
    every block there is a whole-column block, so ``frag`` reads as -1."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import IntegerType

    bdir = os.path.join(warehouse, "blocks")
    files = sorted(glob.glob(os.path.join(bdir, "bucket=*", "[!_.]*.parquet")))
    if not files:
        raise FileNotFoundError(f"no block files under {bdir}")
    schema = from_arrow_schema(pq.read_schema(files[0]))
    bdf = spark.read.schema(schema.add("bucket", IntegerType())).parquet(bdir)
    if "frag" not in bdf.columns:
        bdf = bdf.withColumn("frag", F.lit(-1).cast("bigint"))
    return bdf


def decode_table(spark, warehouse: str, *,
                 columns: list | None = None,
                 zone_filter: tuple | list | None = None):
    """Blocks → rows (the ``uncheckedRun`` analog,
    /root/reference/siphon/src/Siphon.hs:718-749, per-block not per-row).

    SHUFFLE-FREE: the encoder writes each bucket's block rows
    stripe-contiguously (all of a stripe's column blocks adjacent), so a
    stateful ``mapInArrow`` reassembles stripes as they stream past —
    partial stripes at arrow-batch boundaries are buffered inside the
    iterator (the engine-level analog of the reference's cross-chunk parser
    continuations, Siphon.hs:612-616), and decode parallelism is the scan's
    (one task per bucket file; stripes never span files).

    ``columns`` decodes a SUBSET of the planned columns — the columnar-store
    payoff: non-requested columns' blocks are filtered out by the Catalyst
    scan and never decompressed or shipped.

    ``zone_filter=(col, lo, hi)`` prunes at stripe granularity using the
    per-block zone maps (vmin/vmax written for integer columns at encode):
    only stripes whose [vmin, vmax] for ``col`` overlaps [lo, hi] are
    decoded.  A LIST of such tuples is a conjunction: a stripe survives
    only if every range overlaps (each predicate prunes independently, so
    the kept set only shrinks — the multi-predicate form every real scan
    pushdown has).  Like any zone map this returns a SUPERSET of matching
    rows (the stripes are pre-filtered, not the rows) — apply the exact
    residual predicate on the result.

    Arrow end-to-end: the earlier applyInPandas path corrupted nullable
    int64 via the pandas float64 conversion (values above 2^53); arrow
    arrays pass through losslessly."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string
    from pyspark.sql.pandas.types import to_arrow_schema

    manifest = read_manifest(warehouse)
    plan = EncodePlan.from_json(json.dumps(manifest["plan"]))
    all_cols = plan.column_names
    cols = list(columns) if columns is not None else all_cols
    unknown = [c for c in cols if c not in all_cols]
    if unknown:
        raise KeyError(f"columns not in plan: {unknown}")
    # pass the struct<...> form straight through: string-munging it corrupts
    # any schema whose LAST field is a nested type — replace() also strips
    # nested 'struct<' and rstrip('>') eats array<...>'s closing brackets
    # (the submit_job ADVICE bug, present here too)
    full_schema = _parse_datatype_string(manifest["schema_ddl"])
    # keep_fields MUST follow the REQUESTED column order, not the plan's:
    # assemble_one builds the arrow table in `cols` order and the arrow →
    # Spark boundary binds by POSITION, so a plan-ordered schema against a
    # request-ordered table silently swaps same-typed columns (review
    # finding, reproduced: columns=["lang","text"] returned lang values
    # under the "text" name)
    by_name = {f.name: f for f in full_schema.fields}
    keep_fields = [by_name[c] for c in cols]
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in keep_fields)
    arrow_schema = to_arrow_schema(_parse_datatype_string(out_schema))

    blocks_df = _read_blocks(spark, warehouse)
    zone_filters = ([] if zone_filter is None
                    else [zone_filter] if isinstance(zone_filter, tuple)
                    else list(zone_filter))
    for zcol, lo, hi in zone_filters:  # conjunction: each range prunes
        if zcol not in all_cols:
            raise KeyError(f"zone_filter column {zcol!r} not in plan "
                           f"columns {all_cols}")
        ztype = next(f.dataType.simpleString() for f in full_schema.fields
                     if f.name == zcol)
        # typed dispatch — a column without zone maps must fail LOUDLY, not
        # silently prune every stripe (the round-2 advice item)
        if ztype in ("tinyint", "smallint", "int", "bigint"):
            overlap = (F.col("vmin").isNotNull()
                       & (F.col("vmax") >= F.lit(int(lo)))
                       & (F.col("vmin") <= F.lit(int(hi))))
        elif ztype in ("string", "binary"):
            for bound in (lo, hi):
                if not isinstance(bound, (str, bytes, bytearray)):
                    # bytes(int) is a ZERO-FILLED buffer — it would silently
                    # prune every stripe instead of failing loudly
                    raise TypeError(
                        f"zone_filter on string column {zcol!r}: bounds must "
                        f"be str/bytes, got {type(bound).__name__}")
            lob = lo.encode("utf-8") if isinstance(lo, str) else bytes(lo)
            hib = hi.encode("utf-8") if isinstance(hi, str) else bytes(hi)
            # truncated bounds only WIDEN the kept set (smin <= true min;
            # smax >= true max, null smax = unbounded above)
            overlap = (F.col("smin").isNotNull()
                       & (F.col("smax").isNull()
                          | (F.col("smax") >= F.lit(lob)))
                       & (F.col("smin") <= F.lit(hib)))
        else:
            raise TypeError(
                f"zone_filter on {zcol!r}: no zone maps for type {ztype} "
                f"(integer and string/binary columns carry block statistics)")
        live = (blocks_df.filter((F.col("column") == zcol) & overlap)
                .select("bucket", "stripe"))
        blocks_df = blocks_df.join(F.broadcast(live.distinct()),
                                   ["bucket", "stripe"], "left_semi")
    if columns is not None:
        blocks_df = blocks_df.filter(F.col("column").isin(cols))

    def assemble_one(names, blobs, n_rows, frags):
        arrays = {}
        frag_groups: dict[str, list] = {}
        for j, (name, blob) in enumerate(zip(names, blobs)):
            if frags[j] is not None and frags[j] >= 0:
                # multi-block cell: collect the fragment set, reassemble below
                frag_groups.setdefault(name, []).append(blob)
                continue
            if name in arrays:
                raise B.BlockError(f"duplicate column blocks in stripe: {name!r}")
            arr = B.decode_block(blob)
            # integrity: decoded length must match the block's recorded row
            # count — a torn/garbled blocks file fails LOUDLY, never as
            # silent column misalignment (the RowErrorSize analog,
            # siphon/src/Siphon.hs:671-676)
            if len(arr) != n_rows[j]:
                raise B.BlockError(
                    f"block row-count mismatch for {name!r}: decoded "
                    f"{len(arr)}, recorded {n_rows[j]}")
            arrays[name] = arr
        for name, frames in frag_groups.items():
            if name in arrays:
                raise B.BlockError(
                    f"column {name!r} has both whole and fragment blocks")
            arrays[name] = B.decode_cell_fragments(frames)
        missing = [c for c in cols if c not in arrays]
        if missing:
            raise B.BlockError(f"stripe missing column blocks: {missing}")
        return pa.table(
            {c: arrays[c].cast(arrow_schema.field(c).type) for c in cols})

    def stream_stripes(batches):
        pend_key = None
        pend_names, pend_blobs, pend_nrows, pend_frags = [], [], [], []
        for batch in batches:
            buckets = batch.column("bucket").to_pylist()
            stripes = batch.column("stripe").to_pylist()
            names = batch.column("column").to_pylist()
            nrows = batch.column("n_rows").to_pylist()
            fr = batch.column("frag").to_pylist()
            blobs = batch.column("block")
            for i in range(batch.num_rows):
                key = (buckets[i], stripes[i])
                if key != pend_key:
                    if pend_names:
                        yield from assemble_one(pend_names, pend_blobs,
                                                pend_nrows,
                                                pend_frags).to_batches()
                    pend_key = key
                    pend_names, pend_blobs = [], []
                    pend_nrows, pend_frags = [], []
                pend_names.append(names[i])
                pend_blobs.append(blobs[i].as_py())
                pend_nrows.append(nrows[i])
                pend_frags.append(fr[i])
        if pend_names:
            yield from assemble_one(pend_names, pend_blobs, pend_nrows,
                                    pend_frags).to_batches()

    return blocks_df.select("bucket", "stripe", "column", "n_rows", "frag",
                            "block") \
        .mapInArrow(stream_stripes, out_schema)


def decode_giant_cells(spark, warehouse: str, column: str, *,
                       validate: bool = True):
    """Chunked decode of fragmented (multi-block) cells: one output row PER
    FRAGMENT — ``(bucket, stripe, frag_idx, n_frags, kind, chunk)`` — so no
    single row ever exceeds the fragment cap.  This is the >2 GiB-cell
    scale path (``decode_table`` reassembles each cell into one arrow
    scalar, which caps at 2 GiB; :func:`blocks.iter_cell_fragments` is the
    in-process streaming analog).

    Chunks are the cell's raw bytes in ``frag_idx`` order after sorting by
    ``(bucket, stripe, frag_idx)``; ``str`` cells are UTF-8 and a chunk
    boundary may split a codepoint — consumers stitch with
    ``codecs.getincrementaldecoder("utf-8")``.  Per-fragment crc is
    validated during the map; ``n_frags`` rides every row so consumers can
    verify set completeness stream-side.  ``validate=True`` additionally
    runs an eager bounded check (fragment METADATA only — one row per
    fragmented stripe) that catches duplicate and gap fragments up front;
    missing tail fragments are left to the per-row ``n_frags`` contract.
    """
    from pyspark.sql import functions as F

    bdf = _read_blocks(spark, warehouse).filter(
        (F.col("column") == column) & (F.col("frag") >= 0))
    if validate:
        bad = (bdf.groupBy("bucket", "stripe")
               .agg(F.count("*").alias("cnt"),
                    F.countDistinct("frag").alias("got"),
                    F.max("frag").alias("mx"))
               .filter((F.col("cnt") != F.col("got"))
                       | (F.col("got") != F.col("mx") + 1))
               .limit(20).collect())
        if bad:
            raise B.BlockError(
                f"fragment sets with duplicates/gaps for column {column!r}: "
                + ", ".join(f"bucket={r['bucket']} stripe={r['stripe']} "
                            f"(n={r['cnt']}, distinct={r['got']}, "
                            f"max={r['mx']})" for r in bad))

    out_schema = pa.schema([
        ("bucket", pa.int64()), ("stripe", pa.int64()),
        ("frag_idx", pa.int64()), ("n_frags", pa.int64()),
        ("kind", pa.string()), ("chunk", pa.binary()),
    ])
    out_ddl = ("bucket bigint, stripe bigint, frag_idx bigint, "
               "n_frags bigint, kind string, chunk binary")

    def to_chunks(batches):
        # ONE output batch per fragment: a stripe's fragments are adjacent
        # rows in the scan, so batching them together would rebuild the
        # whole multi-GiB cell in a single arrow batch and overflow 32-bit
        # binary offsets — exactly the ceiling this surface removes.  (The
        # input side is bounded by spark.sql.execution.arrow.maxBytesPerBatch,
        # set in session.get_spark.)
        for batch in batches:
            buckets = batch.column("bucket").to_pylist()
            stripes = batch.column("stripe").to_pylist()
            blobs = batch.column("block")
            for j in range(batch.num_rows):
                i, n, payload, kind, _typ = B.fragment_chunk(blobs[j].as_py())
                vals = {"bucket": buckets[j], "stripe": stripes[j],
                        "frag_idx": i, "n_frags": n, "kind": kind,
                        "chunk": payload}
                yield pa.record_batch(
                    [pa.array([vals[f.name]], type=f.type)
                     for f in out_schema], schema=out_schema)

    return (bdf.select("bucket", "stripe", "block")
            .mapInArrow(to_chunks, out_ddl))


# --------------------------------------------------------------------------
# verify
# --------------------------------------------------------------------------

def verify_roundtrip(spark, source_df, plan: EncodePlan, warehouse: str) -> dict:
    """The round-trip oracle (reference propIsoStream, siphon/test/Test.hs:
    262-276) strengthened to per-row sha256 equality (input_hint)."""
    from pyspark.sql import functions as F

    decoded = decode_table(spark, warehouse)
    src = plan.project(source_df).select(*plan.column_names)

    def hashed(df):
        exprs = [F.sha2(F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")), 256)
                 .alias(f"{c}__h") for c in plan.column_names
                 if c not in plan.key_cols]
        return df.select(*plan.key_cols, *exprs)

    s, d = hashed(src), hashed(decoded)
    joined = s.alias("s").join(d.alias("d"), on=list(plan.key_cols), how="full")
    cmp_cols = [c for c in plan.column_names if c not in plan.key_cols]
    # all-key plans (every column part of row identity) have nothing beyond
    # join membership to compare: mismatch stays constant-false rather than
    # None (F.when(None, ...) raises — review finding)
    mismatch = F.lit(False)
    for c in cmp_cols:
        cond = (F.col(f"s.{c}__h").isNull() | F.col(f"d.{c}__h").isNull()
                | (F.col(f"s.{c}__h") != F.col(f"d.{c}__h")))
        mismatch = mismatch | cond
    # single pass: counts + mismatches in one aggregation so the decode
    # pipeline executes exactly once
    probe_s = f"s.{cmp_cols[0]}__h" if cmp_cols else plan.key_cols[0]
    probe_d = f"d.{cmp_cols[0]}__h" if cmp_cols else plan.key_cols[0]
    row = joined.agg(
        F.count(F.col(probe_s)).alias("rows_source"),
        F.count(F.col(probe_d)).alias("rows_decoded"),
        F.sum(F.when(mismatch, 1).otherwise(0)).alias("mismatches"),
    ).collect()[0]
    bad = int(row["mismatches"] or 0)
    out = {
        "rows_source": int(row["rows_source"]),
        "rows_decoded": int(row["rows_decoded"]),
        "mismatches": bad,
        "ok": bad == 0,
    }
    if bad:
        # diagnostics: a bounded sample of the mismatching keys and which
        # side is missing/divergent (flakes must leave evidence)
        out["examples"] = [r.asDict() for r in
                           joined.filter(mismatch).limit(5).collect()]
    return out


def lineage_table(spark, warehouse: str):
    return spark.read.parquet(os.path.join(warehouse, "lineage"))
