"""The north-star resumability claim, tested literally: SIGKILL an encode
job mid-run, rerun with mode=resume, and require (a) completed buckets are
not re-encoded (byte-identical files, untouched mtimes), (b) the final
warehouse verifies sha256-clean.  Markers are written per bucket from INSIDE
the shuffle task, so a killed run leaves a valid partial checkpoint; resume
anti-joins the completed buckets out before the shuffle."""

import glob
import json
import os
import signal
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = "/tmp/colonnade_killtest_corpus"
WH = "/tmp/colonnade_killtest_wh"
N_FILES = 30_000


@pytest.mark.timeout(540)
def test_sigkill_then_resume(spark):
    import shutil

    from colonnade_spark import engine
    from colonnade_spark.corpus import generate_corpus
    from colonnade_spark.plan import corpus_plan

    if not os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
        generate_corpus(spark, N_FILES, seed=42).write.mode(
            "overwrite").parquet(CORPUS)
    shutil.rmtree(WH, ignore_errors=True)

    # run the encode CLI in a subprocess at low parallelism so we can kill it
    # while some (not all) bucket markers exist
    cmd = [sys.executable, os.path.join(REPO, "scripts", "submit_job.py"),
           "encode", "--input", CORPUS, "--warehouse", WH,
           "--n-buckets", "12", "--cores", "2", "--mode", "overwrite"]
    # own process group: the SIGKILL must take out the driver AND its JVM
    # child together — an orphaned JVM keeps finishing bucket tasks (and
    # writing markers) for several seconds after the driver dies, racing
    # the marker snapshot below
    proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL,
                            start_new_session=True)
    deadline = time.time() + 400
    markers = []
    try:
        while time.time() < deadline:
            markers = engine.list_markers(WH) if os.path.isdir(WH) else []
            if len(markers) >= 3:
                break
            if proc.poll() is not None:
                break
            time.sleep(0.5)
        assert proc.poll() is None, "job finished before we could kill it — " \
            f"{len(markers)} markers; raise N_FILES"
        os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
    finally:
        proc.wait()
    time.sleep(1.0)  # let any in-flight atomic marker renames settle

    done_before = {p: os.path.getmtime(p) for p in
                   glob.glob(os.path.join(WH, "blocks", "bucket=*",
                                          "part-0.parquet"))}
    marked = {m["bucket"] for m in engine.list_markers(WH)}
    assert marked, "kill landed before any bucket completed"

    # resume in-process (same corpus, same plan → same fingerprint)
    df = spark.read.parquet(CORPUS)
    manifest = engine.encode_table(spark, df, corpus_plan(), WH,
                                   n_buckets=12, mode="resume",
                                   input_token=CORPUS)
    assert manifest["buckets_resumed"] == len(marked)
    assert manifest["buckets_encoded_this_run"] >= 1

    # completed buckets untouched
    for p, mt in done_before.items():
        b = int(p.split("bucket=")[1].split("/")[0])
        if b in marked:
            assert os.path.getmtime(p) == mt, f"bucket {b} was re-encoded"

    summary = engine.verify_roundtrip(spark, df, corpus_plan(), WH)
    assert summary["ok"] and summary["rows_decoded"] == N_FILES
