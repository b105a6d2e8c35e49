"""In-process codec kernel pass (traced runs only).

Cuts size-capped stripes from the seeded corpus, sorted the way the encode
plan clusters it, and times ``blocks.encode_block`` (auto and forced to the
selected codec), ``blocks.select_codec``, ``blocks.block_info`` and
``blocks.decode_block`` on each column, single-threaded.  Each timing is the
SECOND call: the first pays first-touch page faults and runs several times
slower than the steady state Spark's long-lived workers see.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

COLUMNS = ["repo", "path", "commit", "lang", "content"]
STRIPE_BYTES = 4 << 20   # the engine's stripe cap in the corpus workload
MAX_STRIPES = 3


def _second_call(fn):
    fn()
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _stripes(table: pa.Table, cap: int):
    """Row-aligned stripes of at most ``cap`` bytes.  Rows above the cap are
    dropped: the engine stores such cells as fragment chains, not blocks."""
    sizes = np.zeros(table.num_rows, dtype=np.int64)
    for name in COLUMNS:
        col = table.column(name).combine_chunks()
        off = np.frombuffer(col.buffers()[1], dtype=np.int32)[col.offset:col.offset + len(col) + 1]
        sizes += np.diff(off)
    table = table.filter(pa.array(sizes <= cap))
    sizes = sizes[sizes <= cap]
    lo, acc = 0, 0
    for i, s in enumerate(sizes):
        if acc and acc + s > cap:
            yield table.slice(lo, i - lo)
            lo, acc = i, 0
        acc += int(s)
    if lo < table.num_rows:
        yield table.slice(lo)


def kernel_pass(n_files: int, seed: int) -> dict:
    """Per-column codec throughput and selection cost on corpus stripes."""
    from colonnade_spark import blocks, corpus
    from colonnade_spark.codecs import EncodeContext, compute_stats, from_arrow

    pa.set_cpu_count(1)
    table = corpus.generate_corpus_arrow(n_files, seed=seed)
    table = table.sort_by([("lang", "ascending"), ("repo", "ascending"),
                           ("path", "ascending"), ("commit", "ascending")])
    enc_s = dict.fromkeys(COLUMNS, 0.0)
    forced_s = dict.fromkeys(COLUMNS, 0.0)
    dec_s = dict.fromkeys(COLUMNS, 0.0)
    in_bytes = dict.fromkeys(COLUMNS, 0)
    auto_blocks = fallbacks = 0
    for k, stripe in enumerate(_stripes(table, STRIPE_BYTES)):
        if k >= MAX_STRIPES:
            break
        for name in COLUMNS:
            arr = stripe.column(name).combine_chunks()
            col, _validity = from_arrow(arr)
            stats = compute_stats(col, arr)
            picked = blocks.select_codec(col, stats, EncodeContext())
            blk, t_auto = _second_call(lambda: blocks.encode_block(arr))
            _, t_forced = _second_call(lambda: blocks.encode_block(arr, codec=picked))
            out, t_dec = _second_call(lambda: blocks.decode_block(blk))
            if not out.equals(arr):
                raise AssertionError(f"kernel pass: {name} stripe {k} did not round-trip")
            auto_blocks += 1
            if picked != "plain" and blocks.block_info(blk)["codec"] == "plain":
                fallbacks += 1
            enc_s[name] += t_auto
            forced_s[name] += t_forced
            dec_s[name] += t_dec
            in_bytes[name] += arr.nbytes
    out = {"blocks.fallback_frac": fallbacks / max(auto_blocks, 1)}
    for name in COLUMNS:
        mb = in_bytes[name] / 1e6
        out[f"blocks.encode_mb_s.{name}"] = mb / enc_s[name] if enc_s[name] else 0.0
        out[f"blocks.decode_mb_s.{name}"] = mb / dec_s[name] if dec_s[name] else 0.0
        out[f"blocks.select_share.{name}"] = (
            (enc_s[name] - forced_s[name]) / enc_s[name] if enc_s[name] else 0.0)
    return out
