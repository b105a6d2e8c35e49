"""Decode-side validation with positioned, *aggregated* errors.

The reference returns errors as values with coordinates, never throwing:
``SiphonError { row, cause }`` with missing/duplicate/size/parse causes
(/root/reference/siphon/src/Siphon/Types.hs:35-59), and accumulates every
error across columns via the ``EitherWrap`` applicative rather than
short-circuiting (/root/reference/siphon/src/Siphon.hs:546-555).

Here the unit of decode is a block, so errors carry (bucket, stripe, column)
coordinates; a validation pass over a warehouse reports ALL of: missing
column blocks, duplicate column blocks, unknown codec ids, CRC mismatches,
row-count disagreements between sibling blocks (the RowErrorSize analog),
and decode failures — as a DataFrame, never an exception.
"""

from __future__ import annotations

import json

import pandas as pd

from . import blocks as B

ERROR_SCHEMA = ("bucket int, stripe long, column string, kind string, "
                "detail string")

KIND_MISSING = "missing_column"
KIND_DUPLICATE = "duplicate_column"
KIND_CRC = "crc_mismatch"
KIND_CODEC = "unknown_codec"
KIND_SIZE = "row_count_mismatch"
KIND_DECODE = "decode_failure"


def resolve_stripe(present: list, expected: list) -> list:
    """The ``headedToIndexed`` analog (Siphon.hs:252-278): match expected
    column names against the blocks present in one stripe.  Order-insensitive,
    extra columns ignored, missing and duplicated names ALL reported."""
    errs = []
    seen: dict = {}
    for c in present:
        seen[c] = seen.get(c, 0) + 1
    for c, k in seen.items():
        if k > 1 and c in expected:
            errs.append((KIND_DUPLICATE, c, f"{k} blocks for column"))
    for c in expected:
        if c not in seen:
            errs.append((KIND_MISSING, c, "no block for column"))
    return errs


def validate_blocks(spark, warehouse: str, expected_cols: list | None = None):
    """Full-warehouse validation job → DataFrame(bucket, stripe, column,
    kind, detail); empty result = sound warehouse."""
    from .engine import _read_blocks, read_manifest
    from .shipping import ensure_shipped

    ensure_shipped(spark)
    if expected_cols is None:
        manifest = read_manifest(warehouse)
        expected_cols = [s["name"] for s in manifest["plan"]["specs"]]
    blocks_df = _read_blocks(spark, warehouse)

    def check(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bucket, stripe = int(key[0]), int(key[1])
        rows = []

        def emit(kind, column, detail):
            rows.append((bucket, stripe, column, kind, str(detail)[:200]))

        # fragment rows (frag >= 0) are one LOGICAL block per column: a
        # multi-block cell (blocks.encode_cell_fragments) is not a duplicate
        frag_mask = pdf["frag"] >= 0
        whole = pdf[~frag_mask]
        fragged = pdf[frag_mask]
        present = list(whole["column"]) + sorted(set(fragged["column"]))
        for kind, col, detail in resolve_stripe(present, expected_cols):
            emit(kind, col, detail)
        n_by_col = {}
        for _, r in whole.iterrows():
            try:
                arr = B.decode_block(r["block"])
                n_by_col[r["column"]] = len(arr)
                if len(arr) != r["n_rows"]:
                    emit(KIND_SIZE, r["column"],
                         f"block decodes to {len(arr)} rows, catalog says {r['n_rows']}")
            except B.BlockError as e:
                msg = str(e)
                kind = (KIND_CRC if "crc" in msg
                        else KIND_CODEC if "codec id" in msg else KIND_DECODE)
                emit(kind, r["column"], msg)
            except Exception as e:  # decode bug → positioned, not thrown
                emit(KIND_DECODE, r["column"], repr(e))
        for col, grp in fragged.groupby("column"):
            try:
                # STREAMING drain, not decode_cell_fragments: validation
                # needs per-fragment crc + completeness, not the value —
                # materializing would cost ~4x the cell size on the very
                # multi-GiB cells the fragment path exists for
                for _chunk in B.iter_cell_fragments(list(grp["block"])):
                    pass
                n_by_col[col] = 1          # a fragmented cell is one row
            except B.BlockError as e:
                msg = str(e)
                emit(KIND_CRC if "crc" in msg else KIND_DECODE, col, msg)
            except Exception as e:
                emit(KIND_DECODE, col, repr(e))
        if len(set(n_by_col.values())) > 1:
            emit(KIND_SIZE, "*", f"sibling blocks disagree on rows: {n_by_col}")
        return pd.DataFrame(rows, columns=["bucket", "stripe", "column",
                                           "kind", "detail"])

    return (blocks_df.groupBy("bucket", "stripe")
            .applyInPandas(check, schema=ERROR_SCHEMA))


def humanize_errors(err_df, limit: int = 50) -> str:
    """The ``humanizeSiphonError`` analog (Siphon.hs:474-544)."""
    rows = err_df.limit(limit).collect()
    if not rows:
        return "no errors"
    out = []
    for r in rows:
        out.append(f"bucket {r['bucket']} stripe {r['stripe']} "
                   f"column {r['column']}: {r['kind']} — {r['detail']}")
    return "\n".join(out)
