"""End-to-end Spark tests: encode job → decode job → sha256 verification,
skew salting, checkpoint/resume (SURVEY.md §5.2 items 4-6)."""

import glob
import json
import os
import re

import pytest

from colonnade_spark import engine
from colonnade_spark.corpus import generate_corpus
from colonnade_spark.plan import corpus_plan

N_FILES = 400


@pytest.fixture(scope="module")
def corpus_df(spark):
    df = generate_corpus(spark, N_FILES, seed=42).cache()
    df.count()
    return df


def test_encode_decode_verify(spark, corpus_df, tmp_path):
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    manifest = engine.encode_table(spark, corpus_df, plan, wh,
                                   n_buckets=8, stripe_bytes=1 << 20,
                                   input_token="t1")
    assert manifest["rows"] == N_FILES
    assert manifest["bytes_out"] < manifest["bytes_in"]  # corpus is compressible
    summary = engine.verify_roundtrip(spark, corpus_df, plan, wh)
    assert summary == {"rows_source": N_FILES, "rows_decoded": N_FILES,
                       "mismatches": 0, "ok": True}


def test_lineage_and_codec_mix(spark, corpus_df, tmp_path):
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    engine.encode_table(spark, corpus_df, plan, wh, n_buckets=4, input_token="t2")
    lin = engine.lineage_table(spark, wh)
    rows = lin.collect()
    assert all(r["bytes_out"] > 0 for r in rows)
    codecs_used = {r["codec"] for r in rows}
    assert "plain" in codecs_used or "fsst" in codecs_used
    # lang is low-cardinality → dict/rle somewhere
    lang_codecs = {r["codec"] for r in rows if r["column"] == "lang"}
    assert lang_codecs & {"dict", "rle"}


def test_resume_skips_completed_buckets(spark, corpus_df, tmp_path):
    """Resume: completed buckets are anti-joined out BEFORE the shuffle and
    their published files stay untouched; buckets whose marker was lost
    re-encode (whether their block files survived or not), and the
    manifest folds both."""
    import shutil

    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    m1 = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=6,
                             input_token="t3")
    assert m1["buckets_encoded_this_run"] > 0
    before = {p: os.path.getmtime(p)
              for p in glob.glob(os.path.join(wh, "blocks", "*", "*.parquet"))}
    # simulate a crash that lost two buckets' markers; one of them also
    # lost its block files
    markers = engine.list_markers(wh)
    lost_ids = [m["bucket"] for m in markers[:2]]
    engine.invalidate_markers(wh, lost_ids)
    shutil.rmtree(os.path.join(wh, "blocks", f"bucket={lost_ids[1]}"))
    m2 = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=6,
                             mode="resume", input_token="t3")
    assert m2["buckets_encoded_this_run"] == 2
    assert m2["buckets_resumed"] == m1["buckets_encoded_this_run"] - 2
    assert m2["rows"] == N_FILES
    for p, mt in before.items():
        b = int(p.split("bucket=")[1].split("/")[0])
        if b == lost_ids[0]:
            assert os.path.getmtime(p) != mt, f"bucket {b} was not redone"
        elif b not in lost_ids:
            assert os.path.getmtime(p) == mt, f"bucket {b} was re-encoded"
    assert os.path.exists(os.path.join(wh, "blocks", f"bucket={lost_ids[1]}",
                                       "part-0.parquet"))
    # and the data still verifies
    summary = engine.verify_roundtrip(spark, corpus_df, plan, wh)
    assert summary["ok"] and summary["rows_decoded"] == N_FILES


def test_deterministic_blocks_across_runs(spark, corpus_df, tmp_path):
    """Re-encoding produces byte-identical blocks (resume safety)."""
    import pyarrow.parquet as pq

    plan = corpus_plan()
    whs = [str(tmp_path / f"wh{i}") for i in range(2)]
    for wh in whs:
        engine.encode_table(spark, corpus_df, plan, wh, n_buckets=4,
                            input_token="t4")
    for b in range(4):
        fa = os.path.join(whs[0], "blocks", f"bucket={b}", "part-0.parquet")
        fb = os.path.join(whs[1], "blocks", f"bucket={b}", "part-0.parquet")
        if os.path.exists(fa):
            ta, tb = pq.read_table(fa), pq.read_table(fb)
            assert ta.equals(tb)


def test_verify_catches_corruption(spark, corpus_df, tmp_path):
    import pyarrow.parquet as pq

    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    engine.encode_table(spark, corpus_df, plan, wh, n_buckets=2, input_token="t5")
    # swap one stripe's content block with another column's block
    bdir = glob.glob(os.path.join(wh, "blocks", "bucket=*", "*.parquet"))[0]
    orig = pq.read_table(bdir)
    t = orig.to_pydict()
    ci = [i for i, c in enumerate(t["column"]) if c == "content"][0]
    li = [i for i, c in enumerate(t["column"]) if c == "lang"][0]
    t["block"][ci] = t["block"][li]
    t["n_rows"][ci] = t["n_rows"][li]
    import pyarrow as pa
    pq.write_table(pa.Table.from_pydict(t, schema=orig.schema), bdir,
                   compression="NONE")
    summary = engine.verify_roundtrip(spark, corpus_df, plan, wh)
    assert not summary["ok"]


def test_resume_rejects_stale_markers_on_changed_input(spark, tmp_path):
    """ADVICE regression: with mode=resume and a CHANGED input token, the
    old markers must be invalidated — every bucket re-encodes against the
    new data (no silent stale blocks)."""
    df1 = generate_corpus(spark, 100, seed=1)
    df2 = generate_corpus(spark, 100, seed=2)
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    m1 = engine.encode_table(spark, df1, plan, wh, n_buckets=4,
                             input_token="in1")
    assert m1["buckets_encoded_this_run"] > 0
    m2 = engine.encode_table(spark, df2, plan, wh, n_buckets=4,
                             mode="resume", input_token="in2")
    assert m2["buckets_resumed"] == 0
    assert m2["buckets_encoded_this_run"] > 0
    # warehouse now verifies against the NEW corpus, not the old one
    assert engine.verify_roundtrip(spark, df2, plan, wh)["ok"]
    assert not engine.verify_roundtrip(spark, df1, plan, wh)["ok"]


def test_resume_manifest_reports_full_totals(spark, corpus_df, tmp_path):
    """ADVICE regression: after a resume, manifest totals cover the whole
    warehouse (resumed buckets folded in), not just this run's increment."""
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    m1 = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=6,
                             input_token="tt")
    markers = engine.list_markers(wh)
    engine.invalidate_markers(wh, [markers[0]["bucket"]])
    m2 = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=6,
                             mode="resume", input_token="tt")
    assert m2["buckets_encoded_this_run"] == 1
    assert m2["rows"] == m1["rows"] == N_FILES
    assert m2["bytes_in"] == m1["bytes_in"]
    assert m2["bytes_out"] == m1["bytes_out"]


def test_decode_preserves_large_int64_with_nulls(spark, tmp_path):
    """ADVICE regression: nullable int64 above 2^53 must round-trip exactly
    (the pandas float64 path silently corrupted them; arrow path must not)."""
    big = (1 << 60) + 12345
    rows = [(i, big + i if i % 3 else None, f"r{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long, s string")
    from colonnade_spark.plan import plan as mkplan
    p = (mkplan().headed("k").headed("v").headed("s").with_keys("k"))
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=2, input_token="bigint")
    decoded = {r["k"]: r["v"] for r in engine.decode_table(spark, wh).collect()}
    for i in range(500):
        expect = big + i if i % 3 else None
        assert decoded[i] == expect, (i, decoded[i], expect)


def test_decode_shuffle_free_plan_and_equivalence(spark, corpus_df, tmp_path):
    """Decode must plan WITHOUT a shuffle (stripe rows are file-contiguous
    by construction), and must produce exactly the source rows."""
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    engine.encode_table(spark, corpus_df, plan, wh, n_buckets=4,
                        input_token="dec")
    fast = engine.decode_table(spark, wh)
    plan_str = fast._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_str, plan_str
    src = plan.project(corpus_df).select(*plan.column_names)
    a = {tuple(r) for r in fast.collect()}
    b = {tuple(r) for r in src.collect()}
    assert a == b and len(a) == N_FILES


def test_decode_column_subset_and_zone_pruning(spark, tmp_path):
    """Columnar payoffs: decode only requested columns; prune stripes via
    per-block integer zone maps (superset semantics — residual predicate
    applied by the caller)."""
    rows = [(i, i * 3, f"txt{i:05d}" * 6) for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, v long, s string")
    from colonnade_spark.plan import plan as mkplan
    p = (mkplan().headed("k").headed("v").headed("s")
         .with_keys("k").with_cluster("k"))
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=2, stripe_bytes=16 << 10,
                        input_token="zone")
    # column subset: only the requested columns come back
    sub = engine.decode_table(spark, wh, columns=["k", "v"])
    assert sub.columns == ["k", "v"]
    assert sub.count() == 2000
    # zone pruning on v in [300, 360] (k in [100, 120])
    pruned = engine.decode_table(spark, wh, zone_filter=("v", 300, 360))
    got = pruned.collect()
    vs = {r["v"] for r in got}
    assert {v for v in range(300, 361) if v % 3 == 0} <= vs  # superset holds
    # stripe-granular pruning: only the first ~480-row stripe per bucket
    # overlaps [300,360]; the other two per bucket are skipped
    assert len(got) <= 1000, len(got)
    # residual predicate on the pruned scan gives the exact answer
    exact = pruned.filter("v between 300 and 360").count()
    assert exact == len([v for v in range(300, 361) if v % 3 == 0])
    # combined: subset + pruning (stripe-granular: one stripe per bucket)
    both = engine.decode_table(spark, wh, columns=["v"],
                               zone_filter=("v", 0, 30))
    assert both.columns == ["v"] and 0 < both.count() <= 1000


def test_string_zone_maps_prune_and_validate(spark, tmp_path):
    """String zone maps (parquet-style truncated min/max on UTF-8 bytes):
    a zone_filter on a clustered string column prunes stripes; truncation
    only widens the kept set; unsupported/unknown columns fail loudly."""
    import pytest

    langs = ["de", "en", "es", "fr", "zh"]
    rows = [(i, langs[i // 600], f"key{i:06d}" + "z" * 40, f"body {i} " * 20)
            for i in range(3000)]
    df = spark.createDataFrame(rows, "k long, lang string, skey string, s string")
    from colonnade_spark.plan import plan as mkplan
    p = (mkplan().headed("k").headed("lang").headed("skey").headed("s")
         .with_keys("k").with_cluster("lang", "k"))
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=2, stripe_bytes=24 << 10,
                        input_token="szone")
    total = engine.decode_table(spark, wh).count()
    assert total == 3000
    # prune on the short clustered column
    pruned = engine.decode_table(spark, wh, zone_filter=("lang", "en", "es"))
    got = pruned.collect()
    assert {r["lang"] for r in got} >= {"en", "es"}          # superset holds
    assert len(got) < total, "no stripes were pruned"
    exact = pruned.filter("lang between 'en' and 'es'").count()
    assert exact == 1200
    # prune on the LONG key column (truncated at 16 bytes: 'key000600zzzzzzz')
    pk = engine.decode_table(spark, wh, zone_filter=("skey", "key000600",
                                                     "key000800"))
    vals = {r["k"] for r in pk.collect()}
    assert set(range(600, 801)) <= vals and len(vals) < 3000
    # loud failures: unknown column / type without zone maps
    with pytest.raises(KeyError, match="zone_filter"):
        engine.decode_table(spark, wh, zone_filter=("nope", 0, 1))
    rows_f = [(i, float(i)) for i in range(100)]
    dff = spark.createDataFrame(rows_f, "k long, x double")
    pf = mkplan().headed("k").headed("x").with_keys("k")
    whf = str(tmp_path / "whf")
    engine.encode_table(spark, dff, pf, whf, n_buckets=1, input_token="fz")
    with pytest.raises(TypeError, match="no zone maps"):
        engine.decode_table(spark, whf, zone_filter=("x", 0.0, 1.0))


def test_zone_maps_cover_fragmented_giant_cells(spark, tmp_path):
    """A stripe whose zone column went through the fragment path must still
    carry stats — a matching giant cell is never wrongly pruned."""
    big = "mmm-giant-" + "y" * (1 << 20)
    rows = [(1, big)] + [(i, f"aaa-small-{i}") for i in range(2, 40)]
    df = spark.createDataFrame(rows, "k long, s string")
    from colonnade_spark.plan import plan as mkplan
    p = mkplan().headed("k").headed("s").with_keys("k").with_cluster("s")
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=1, stripe_bytes=64 << 10,
                        input_token="gz")
    out = engine.decode_table(spark, wh, zone_filter=("s", "mmm", "zzz"))
    ks = {r["k"] for r in out.collect()}
    assert 1 in ks                        # the giant cell survived pruning
    assert len(ks) < 39                   # the small-cell stripes pruned


def test_skew_salting_spreads_giant_repo(spark, tmp_path):
    """SURVEY §4.2 skew handling: one repo holding ~90% of all bytes must
    fan out over multiple buckets (salt ∝ size), while small repos stay
    co-located; the whole thing still round-trips."""
    rows = [("megacorp/monorepo", f"src/f{i}.py", f"c{i}", "py", "x" * 4000)
            for i in range(800)]
    rows += [(f"tiny/r{j}", "a.py", f"t{j}", "py", "small file") for j in range(40)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    engine.encode_table(spark, df, plan, wh, n_buckets=8,
                        stripe_bytes=256 << 10, target_salt_bytes=256 << 10,
                        input_token="skew")
    bucketed = engine.assign_buckets(plan.project(df), plan, 8,
                                     target_salt_bytes=256 << 10)
    per_bucket = {r["__bucket"] for r in
                  bucketed.filter("repo = 'megacorp/monorepo'")
                  .select("__bucket").distinct().collect()}
    assert len(per_bucket) >= 3, per_bucket   # giant repo spread by salt
    summary = engine.verify_roundtrip(spark, df, plan, wh)
    assert summary["ok"], summary


def test_stripe_iter_honors_cap_exactly():
    """ADVICE regression: the cap is a true <= bound for multi-row stripes
    (the old searchsorted+1 closed at >= cap), and a giant row on a FRESH
    stripe is isolated instead of dragging its neighbor past the cap.  Cuts
    are independent of how the rows arrive batched (1-row batches vs one
    batch), so a bucket's stripes depend only on its row sequence."""
    import numpy as np
    import pyarrow as pa

    from colonnade_spark.engine import _row_sizes, _stripe_iter_batches

    # fresh-stripe giant: [1MB, 5MB] rows with a 4MB cap → two stripes
    t = pa.table({"s": ["a" * (1 << 20), "b" * (5 << 20)]})
    assert [s.num_rows for s in
            _stripe_iter_batches(t.to_batches(), 4 << 20)] == [1, 1]

    rng = np.random.default_rng(7)
    vals = ["x" * int(n) for n in rng.integers(10, 3000, size=500)]
    t2 = pa.table({"s": vals})
    cap = 8 << 10
    total = 0
    cuts = []
    for st in _stripe_iter_batches(t2.to_batches(), cap):
        nbytes = sum(int(_row_sizes(b).sum()) for b in st.to_batches())
        assert st.num_rows == 1 or nbytes <= cap, (st.num_rows, nbytes)
        total += st.num_rows
        cuts.append(st.num_rows)
    assert total == 500 and len(cuts) > 1
    one_row = [st.num_rows for st in
               _stripe_iter_batches(t2.to_batches(max_chunksize=1), cap)]
    assert one_row == cuts


def test_giant_cell_multiblock_roundtrip(spark, tmp_path):
    """A single cell far above the stripe cap (the multi-block-cell path,
    reference parser continuations siphon/src/Siphon.hs:612-616): the stripe
    cutter isolates it, the encoder SPLITS it across fragment blocks (each
    <= ~stripe_bytes), and the round-trip stays exact."""
    big = "".join(f"line {i}: the quick brown fox\n" for i in range(400_000))
    rows = [("r", "giant.txt", "g1", "txt", big)] + \
           [("r", f"s{i}.txt", f"c{i}", "txt", f"small {i}") for i in range(50)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    engine.encode_table(spark, df, plan, wh, n_buckets=2,
                        stripe_bytes=1 << 20, input_token="giant")
    assert engine.verify_roundtrip(spark, df, plan, wh)["ok"]
    # the ~11 MB cell was split across >= 11 fragment blocks, none far over
    # the 1 MiB cap
    blocks_df = spark.read.parquet(os.path.join(wh, "blocks"))
    frag_rows = blocks_df.filter("column = 'content' AND frag >= 0").collect()
    assert len(frag_rows) >= 11, len(frag_rows)
    assert all(r["bytes_out"] <= (1 << 20) + 4096 for r in frag_rows)
    # decode reassembles the giant cell and leaves the other rows intact
    got = {tuple(r) for r in engine.decode_table(spark, wh).collect()}
    assert got == {tuple(r) for r in rows}


def test_cell_fragments_property_tiny_cap(spark, tmp_path):
    """The reference's byte-per-chunk stress (siphon/test/Test.hs:103-122)
    at the cell level: a 1 KiB stripe cap forces EVERY multi-KiB cell through
    the fragment path; round-trip must stay exact, including multi-byte
    UTF-8 split across fragment boundaries."""
    rows = [(f"r{i % 3}", f"p{i}", f"c{i}", "txt",
             (f"doc {i} – füñky ünïcode 日本語 " * 200)[: 3000 + 17 * i])
            for i in range(12)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    engine.encode_table(spark, df, plan, wh, n_buckets=2,
                        stripe_bytes=1 << 10, input_token="tinycap")
    assert engine.verify_roundtrip(spark, df, plan, wh)["ok"]
    blocks_df = spark.read.parquet(os.path.join(wh, "blocks"))
    assert blocks_df.filter("frag >= 0").count() >= 12 * 3  # all fragmented


def test_decode_giant_cells_chunked(spark, tmp_path):
    """The chunked giant-cell scale path: decode_giant_cells emits one row
    per fragment (bounded row size, no 2 GiB arrow-scalar ceiling); sorted
    chunks reassemble to the exact cell, and the eager metadata validation
    catches gap/duplicate fragment sets loudly."""
    import codecs as pycodecs

    import pyarrow as pa
    import pyarrow.parquet as pq

    big = "".join(f"zeile {i}: füñky ünïcode 日本語🎉\n" for i in range(120_000))
    rows = [("r", "giant.txt", "g1", "txt", big)] + \
           [("r", f"s{i}.txt", f"c{i}", "txt", f"small {i}") for i in range(20)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, corpus_plan(), wh, n_buckets=2,
                        stripe_bytes=1 << 20, input_token="giantchunks")

    out = engine.decode_giant_cells(spark, wh, "content")
    got = out.orderBy("bucket", "stripe", "frag_idx").collect()
    assert len(got) >= 4
    n = got[0]["n_frags"]
    assert [r["frag_idx"] for r in got] == list(range(n))
    assert all(r["n_frags"] == n and r["kind"] == "str" for r in got)
    # every chunk is bounded by the fragment cap (the point of the path)
    assert all(len(r["chunk"]) <= (1 << 20) + 4096 for r in got)
    dec = pycodecs.getincrementaldecoder("utf-8")()
    text = "".join(dec.decode(bytes(r["chunk"])) for r in got) \
        + dec.decode(b"", True)
    assert text == big
    # chunk boundaries really split multi-byte codepoints at least once
    assert any(bytes(r["chunk"])[-1] >= 0x80 for r in got[:-1])

    # inject a GAP: drop one middle fragment row from the blocks files
    # (hive layout: blocks/bucket=N/*.parquet)
    import glob as _glob

    frag_files = 0
    for fp in _glob.glob(os.path.join(wh, "blocks", "bucket=*", "*.parquet")):
        t = pq.read_table(fp)
        mask = [not (c == "content" and fr == 1)
                for c, fr in zip(t.column("column").to_pylist(),
                                 t.column("frag").to_pylist())]
        if not all(mask):
            frag_files += 1
        pq.write_table(t.filter(pa.array(mask)), fp)
    assert frag_files == 1
    with pytest.raises(Exception, match="gaps|duplicate"):
        engine.decode_giant_cells(spark, wh, "content")


def test_multi_zone_filter_conjunction(spark, tmp_path):
    """A LIST of zone filters ANDs: the kept stripe set is the intersection
    of each predicate's, mixed int + string columns work together, and the
    superset contract still holds."""
    langs = ["de", "en", "es", "fr", "zh"]
    rows = [(i, langs[i // 600], f"body {i} " * 10) for i in range(3000)]
    df = spark.createDataFrame(rows, "k long, lang string, s string")
    from colonnade_spark.plan import plan as mkplan
    p = (mkplan().headed("k").headed("lang").headed("s")
         .with_keys("k").with_cluster("lang", "k"))
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=2, stripe_bytes=16 << 10,
                        input_token="mzone")
    single_lang = engine.decode_table(
        spark, wh, zone_filter=("lang", "en", "en")).count()
    single_k = engine.decode_table(
        spark, wh, zone_filter=[("k", 700, 800)]).count()   # 1-list == tuple
    both = engine.decode_table(
        spark, wh, zone_filter=[("lang", "en", "en"), ("k", 700, 800)])
    got = both.collect()
    # conjunction prunes at least as hard as each predicate alone
    assert len(got) <= min(single_lang, single_k)
    # superset of the true conjunction rows (k 700..800 are all 'en')
    ks = {r["k"] for r in got}
    assert set(range(700, 801)) <= ks
    assert both.filter("lang = 'en' AND k BETWEEN 700 AND 800").count() == 101
    # a bad column anywhere in the list still fails loudly
    with pytest.raises(KeyError, match="zone_filter"):
        engine.decode_table(spark, wh,
                            zone_filter=[("lang", "en", "en"), ("nope", 0, 1)])


def test_decode_pre_fragment_warehouse_backcompat(spark, tmp_path):
    """Review regression: warehouses written before the multi-block-cell
    change have no 'frag' column — decode, validation and the giant-cell
    reader must still read them (every block is a whole-column block)."""
    import pyarrow.parquet as pq

    from colonnade_spark.errors import validate_blocks

    rows = [("r", f"p{i}", f"c{i}", "py", f"small body {i} " * 10)
            for i in range(300)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, corpus_plan(), wh, n_buckets=2,
                        input_token="bc")
    for fp in glob.glob(os.path.join(wh, "blocks", "bucket=*", "*.parquet")):
        t = pq.read_table(fp)
        assert max(t.column("frag").to_pylist()) == -1   # truly frag-free
        pq.write_table(t.drop_columns(["frag"]), fp, compression="NONE")
    got = {tuple(r) for r in engine.decode_table(spark, wh).collect()}
    assert got == set(rows) and len(got) == 300
    assert validate_blocks(spark, wh).count() == 0
    assert engine.decode_giant_cells(spark, wh, "content").count() == 0


def test_engine_end_to_end_array_column(spark, tmp_path):
    """FULL engine path for an array<float> column (not just the blocks
    layer): the shuffle with the list column, per-bucket stripe
    cutting (rough row-size floor for nested types), list-block encode,
    shuffle-free decode — values back bit-exact, lengths intact."""
    from colonnade_spark import engine
    from colonnade_spark.plan import plan

    src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = (plan().headed("vec_id").headed("embedding").headed("label")
         .with_keys("vec_id"))
    wh = str(tmp_path / "wh")
    m = engine.encode_table(spark, src, p, wh, n_buckets=4,
                            stripe_bytes=1 << 20, input_token="emb")
    assert m["rows"] == src.count()
    got = {r["vec_id"]: (r["embedding"], r["label"])
           for r in engine.decode_table(spark, wh).collect()}
    want = {r["vec_id"]: (r["embedding"], r["label"]) for r in src.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k][1] == want[k][1]
        assert got[k][0] == want[k][0]          # float32 bit-exact


# sha256 per bucket over the blocks table CONTENTS in file row order
# (stripe, column, codec, frag, n_rows, block bytes) for the module corpus,
# corpus_plan() and n_buckets=5 — not over the parquet file bytes, which
# embed the pyarrow version.  These values were produced identically by the
# former two-phase staged encode (parquet re-read, 8192-row batches) and by
# the single-pass encode (shuffle arrow batches) before the staged path was
# removed.
PINNED_BLOCK_DIGESTS = {
    0: "930260f3de1e866bd9e11ab53f3c4363742deda1115ae95f3707567e66cf9f6d",
    1: "01383d32d806511d59626a596ae85a8826b386b501b766fad0369c77164ad62a",
    2: "013d4d0bac1f6cda94128bb62d5e119b9a1bded7b54092a32a81efa556bafcd5",
    3: "c76b4d1df41497d2b0b3ced7a6ec6b97b5618a3dfafce2cb093375980fc5185a",
    4: "fd1368d90464921fcceb1e05b24d9813943a6e332a4302d726f555085807e479",
}


def _blocks_digest(path):
    import hashlib

    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["stripe", "column", "codec", "frag",
                                     "n_rows", "block"])
    h = hashlib.sha256()
    for *meta, blk in zip(*(t.column(c).to_pylist() for c in t.column_names)):
        h.update(json.dumps(meta).encode())
        h.update(len(blk).to_bytes(8, "little"))
        h.update(blk)
    return h.hexdigest()


def test_blocks_match_pinned_digest(spark, corpus_df, tmp_path):
    """Block bytes are a pure function of each bucket's row sequence: the
    encode reproduces the pinned per-bucket digests exactly (any change to
    stripe cutting, codec selection or block framing shows up here)."""
    wh = str(tmp_path / "wh")
    m = engine.encode_table(spark, corpus_df, corpus_plan(), wh, n_buckets=5,
                            input_token="tf")
    assert m["rows"] == N_FILES
    got = {int(p.split("bucket=")[1].split("/")[0]): _blocks_digest(p)
           for p in glob.glob(os.path.join(wh, "blocks", "bucket=*",
                                           "part-0.parquet"))}
    assert got == PINNED_BLOCK_DIGESTS


def test_encode_rejects_removed_staged_path(tmp_path):
    """fused=False named the removed two-phase staged encode: it must fail
    loudly, never quietly run the single-pass encode instead."""
    wh = str(tmp_path / "wh")
    with pytest.raises(ValueError, match="staged"):
        engine.encode_table(None, None, corpus_plan(), wh, fused=False)
    assert not os.path.exists(wh)


def test_fused_resume_invalidates_stale_fingerprint(spark, corpus_df,
                                                    tmp_path):
    """A resume against markers from a DIFFERENT fingerprint (here: a
    different bucket count) must discard every stale marker/block and
    re-encode the full input — never mix two layouts in one warehouse."""
    plan = corpus_plan()
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, corpus_df, plan, wh, n_buckets=7,
                        input_token="tsf")
    os.remove(os.path.join(wh, "manifest.json"))
    m = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=3,
                            mode="resume", input_token="tsf")
    assert m["buckets_resumed"] == 0
    assert m["rows"] == N_FILES
    stale = [p for p in glob.glob(os.path.join(wh, "blocks", "bucket=*"))
             if int(p.split("bucket=")[-1]) >= 3]
    assert stale == []
    summary = engine.verify_roundtrip(spark, corpus_df, plan, wh)
    assert summary["ok"] and summary["rows_decoded"] == N_FILES


def test_decode_schema_nested_type_last(spark, tmp_path):
    """Regression: decode_table used to string-munge the manifest's
    struct<...> DDL, which corrupted any schema whose LAST field is a
    nested type (array<float>'s closing '>' was rstrip'ed away)."""
    from colonnade_spark.plan import plan

    src = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .select("vec_id", "label", "embedding"))   # array column LAST
    p = (plan().headed("vec_id").headed("label").headed("embedding")
         .with_keys("vec_id"))
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, src, p, wh, n_buckets=2,
                        stripe_bytes=1 << 20, input_token="emb-last")
    got = {r["vec_id"]: r["embedding"]
           for r in engine.decode_table(spark, wh).collect()}
    want = {r["vec_id"]: r["embedding"] for r in src.collect()}
    assert got == want


def test_decode_column_subset_respects_requested_order(spark, tmp_path):
    """Regression (review finding): decode_table(columns=...) in NON-plan
    order must return the requested order with the right values — the
    arrow → Spark boundary binds by position, and a plan-ordered schema
    against a request-ordered table silently swapped same-typed columns."""
    from colonnade_spark.plan import plan

    df = spark.createDataFrame(
        [(i, f"t{i}", f"l{i % 3}") for i in range(40)],
        "doc_id bigint, text string, lang string")
    p = (plan().headed("doc_id").headed("text").headed("lang")
         .with_keys("doc_id"))
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=2, input_token="ord")
    out = engine.decode_table(spark, wh, columns=["lang", "text"])
    assert out.columns == ["lang", "text"]
    got = {r["lang"]: r["text"] for r in out.limit(1).collect()}
    for r in out.collect():
        assert r["text"].startswith("t") and r["lang"].startswith("l"), r


def test_empty_list_block_decodes_to_list_type(spark):
    """Regression (review finding): an n==0 list block must decode to the
    LIST type, not the child value type (empty tail batches of an
    embedding column)."""
    import pyarrow as pa

    from colonnade_spark import blocks

    empty = pa.array([], type=pa.list_(pa.float32()))
    out = blocks.decode_block(blocks.encode_block(empty))
    assert out.type == pa.list_(pa.float32()), out.type
    assert len(out) == 0


def test_verify_roundtrip_all_key_plan(spark, tmp_path):
    """Regression (review finding): a plan where EVERY column is a key
    column must verify (membership-only compare), not crash on
    F.when(None, ...)."""
    from colonnade_spark.plan import plan

    df = spark.createDataFrame(
        [(f"r{i}", f"p{i}", f"c{i}") for i in range(30)],
        "repo string, path string, commit string")
    p = (plan().headed("repo").headed("path").headed("commit")
         .with_keys("repo", "path", "commit"))
    wh = str(tmp_path / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=2, input_token="keys")
    summary = engine.verify_roundtrip(spark, df, p, wh)
    assert summary["ok"] and summary["rows_decoded"] == 30


def test_marker_shards_are_per_task_and_torn_tail_is_skipped(
        spark, corpus_df, tmp_path):
    """Marker store: markers live in shard files, one per task attempt
    (each encode task holds one bucket, so at most one file per encoded
    bucket); list/invalidate keep per-bucket granularity; a torn tail line
    (task killed mid-append) is skipped by the reader instead of poisoning
    the resume."""
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    m = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=8,
                            input_token="shards")
    shards = glob.glob(os.path.join(wh, "markers", "shard_*.jsonl"))
    legacy = glob.glob(os.path.join(wh, "markers", "bucket_*.json"))
    assert shards and not legacy
    n_buckets_done = m["buckets_encoded_this_run"]
    assert len(shards) <= n_buckets_done          # no more files than buckets
    markers = engine.list_markers(wh)
    assert len(markers) == n_buckets_done
    # torn tail: append garbage to one shard — scan must ignore it
    with open(shards[0], "a") as f:
        f.write('{"bucket": 999, "fingerprint"')
    assert len(engine.list_markers(wh)) == n_buckets_done
    # invalidate one bucket: resume re-encodes exactly that bucket
    b0 = markers[0]["bucket"]
    engine.invalidate_markers(wh, [b0])
    assert len(engine.list_markers(wh)) == n_buckets_done - 1
    m2 = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=8,
                             mode="resume", input_token="shards")
    assert m2["buckets_encoded_this_run"] == 1
    assert m2["buckets_resumed"] == n_buckets_done - 1
    assert m2["rows"] == m["rows"]


def test_encode_places_one_bucket_per_task(spark, corpus_df, tmp_path):
    """Bucket b goes to shuffle partition b: a fresh encode writes one
    marker shard per encoded bucket, each holding exactly one marker line.
    Hash placement stacked several small bucket ids into one task (4
    buckets ran as 2 tasks).  The footer-derived blocks schema equals the
    one Spark infers."""
    plan = corpus_plan()
    for n_buckets in (4, 8):
        wh = str(tmp_path / f"wh{n_buckets}")
        m = engine.encode_table(spark, corpus_df, plan, wh,
                                n_buckets=n_buckets, input_token="place")
        shards = glob.glob(os.path.join(wh, "markers", "shard_*.jsonl"))
        assert len(shards) == m["buckets_encoded_this_run"], n_buckets
        for p in shards:
            with open(p) as f:
                assert len(f.readlines()) == 1, (n_buckets, p)
    inferred = spark.read.parquet(os.path.join(wh, "blocks")).schema
    assert engine._read_blocks(spark, wh).schema == inferred


def test_blocks_read_fails_loudly_without_block_files(spark, tmp_path):
    """A warehouse with no block file is an error naming the directory,
    not an empty or inferred-nothing table."""
    wh = str(tmp_path / "wh")
    os.makedirs(os.path.join(wh, "blocks"))
    with pytest.raises(FileNotFoundError,
                       match=re.escape(os.path.join(wh, "blocks"))):
        engine.decode_giant_cells(spark, wh, "content")


def test_resume_reads_markers_on_driver_and_counts_each_bucket_once(
        spark, corpus_df, tmp_path):
    """The resume's one marker read: a valid line, a stale-fingerprint
    line, a duplicate line of the valid bucket (a retried task attempt)
    and a torn tail in one shard, plus a legacy per-bucket file.  Each
    valid bucket counts once in buckets_resumed and in the totals; the
    stale and torn lines leave the disk, the legacy file stays."""
    wh = str(tmp_path / "wh")
    plan = corpus_plan()
    m1 = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=4,
                             input_token="dup")
    markers = engine.list_markers(wh)
    assert [m["bucket"] for m in markers] == [0, 1, 2, 3]
    mdir = os.path.join(wh, "markers")
    for p in glob.glob(os.path.join(mdir, "*")):
        os.remove(p)
    valid, stale_src, legacy = markers[0], markers[1], markers[2]
    stale = dict(stale_src, fingerprint="stale")
    shard = os.path.join(mdir, "shard_1_a.jsonl")
    with open(shard, "w") as f:
        f.write(json.dumps(valid) + "\n" + json.dumps(stale) + "\n"
                + json.dumps(valid) + "\n" + '{"bucket": 3, "finger')
    legacy_path = os.path.join(mdir, f"bucket_{legacy['bucket']}.json")
    with open(legacy_path, "w") as f:
        json.dump(legacy, f)
    m2 = engine.encode_table(spark, corpus_df, plan, wh, n_buckets=4,
                             mode="resume", input_token="dup")
    assert m2["buckets_resumed"] == 2
    assert m2["buckets_encoded_this_run"] == 2
    assert (m2["rows"], m2["bytes_in"], m2["bytes_out"]) == \
        (m1["rows"], m1["bytes_in"], m1["bytes_out"])
    with open(shard) as f:
        assert [json.loads(line) for line in f] == [valid, valid]
    with open(legacy_path) as f:
        assert json.load(f) == legacy
    assert [m["bucket"] for m in engine.list_markers(wh)] == [0, 1, 2, 3]


def test_marker_compaction_keeps_legacy_files_and_drops_torn_lines(tmp_path):
    """Shards and legacy per-bucket marker files go through one reader and
    one compaction: a torn tail line is skipped and dropped by the rewrite,
    an emptied shard is removed, and a legacy file is removed only when its
    bucket is invalidated."""
    wh = str(tmp_path / "wh")
    mdir = os.path.join(wh, "markers")
    os.makedirs(mdir)
    shard = os.path.join(mdir, "shard_1_a.jsonl")
    with open(shard, "w") as f:
        f.write(json.dumps({"bucket": 0, "rows": 1}) + "\n"
                + json.dumps({"bucket": 1, "rows": 2}) + "\n"
                + '{"bucket": 9, "ro')
    lone = os.path.join(mdir, "shard_2_b.jsonl")
    with open(lone, "w") as f:
        f.write(json.dumps({"bucket": 2, "rows": 3}) + "\n")
    for b in (3, 4):
        with open(os.path.join(mdir, f"bucket_{b}.json"), "w") as f:
            json.dump({"bucket": b, "rows": 4}, f)
    assert [m["bucket"] for m in engine.list_markers(wh)] == [0, 1, 2, 3, 4]
    engine.invalidate_markers(wh, [1, 2, 4])
    assert [m["bucket"] for m in engine.list_markers(wh)] == [0, 3]
    with open(shard) as f:
        assert f.read() == json.dumps({"bucket": 0, "rows": 1}) + "\n"
    assert not os.path.exists(lone)
    assert sorted(os.listdir(mdir)) == ["bucket_3.json", "shard_1_a.jsonl"]
