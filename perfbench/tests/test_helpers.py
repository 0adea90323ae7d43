"""Unit tests of the benchmark's own helpers (no JVM needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import os
import subprocess
import sys
import time

import pandas as pd
import pyarrow.parquet as pq
import pytest

import check
import gen
from trace import (EventLog, RssSampler, Tracer, rate, ratio, tree_cpu_seconds, tree_rss_bytes,
                   tree_thread_cpu_seconds)


# ----------------------------------------------------------------- ratios
def test_ratio_helpers_never_divide_by_zero():
    assert rate(100, 0.0) > 0
    assert rate(100, 1e-9) == rate(100, 0.0)  # floored at clock resolution
    assert rate(10, 2.0) == 5.0
    assert ratio(5, 0) == 0.0
    assert ratio(0, 0) == 0.0
    assert ratio(3, 4) == 0.75


# ------------------------------------------------------------------ spans
def test_self_time_subtracts_union_of_children():
    t = Tracer("r")
    p = t.begin("pass")
    t.spans[p]["start"] = 0.0
    for name, s, e in (("a", 1.0, 3.0), ("b", 2.0, 4.0), ("c", 6.0, 7.0)):
        c = t.begin(name, p)
        t.spans[c].update(start=s, end=e)
    t.spans[p]["end"] = 10.0
    # children cover [1,4] and [6,7]: 4 of 10 seconds
    assert t.self_time(p) == pytest.approx(6.0)
    assert {s["run_id"] for s in t.spans} == {"r"}


# ------------------------------------------------------------ RSS sampler
def test_rss_sampler_counts_child_processes():
    alone = tree_rss_bytes(os.getpid())
    code = "import time; b = bytearray(64 * 1024 * 1024); b[::4096] = b'x' * len(b[::4096]); time.sleep(5)"
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.monotonic() + 5
        with RssSampler(interval_s=0.05) as s:
            while time.monotonic() < deadline and s.peak < alone + 60e6:
                time.sleep(0.05)
        assert s.peak >= alone + 60e6
        assert s.peak_mb == s.peak / 1e6
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None


def test_rss_of_missing_process_is_zero():
    assert tree_rss_bytes(2**22 + 12345) == 0
    assert tree_cpu_seconds(2**22 + 12345) == 0.0


def test_cpu_time_counts_child_processes():
    code = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass\ntime.sleep(5)"
    before = tree_cpu_seconds(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline and tree_cpu_seconds(os.getpid()) - before < 0.5:
            time.sleep(0.05)
        assert tree_cpu_seconds(os.getpid()) - before >= 0.5
    finally:
        child.kill()
        child.wait(timeout=10)


SPIN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass\n"
FORK_SPIN_REAP = """
import os, sys, time
time.sleep(0.5)
pid = os.fork()
if pid == 0:
    t = time.process_time()
    while time.process_time() - t < 0.6: pass
    os._exit(0)
os.waitpid(pid, 0)
open(sys.argv[1], "w").close()
time.sleep(30)
"""


def test_cpu_time_keeps_reaped_descendants(tmp_path):
    """Between two samples, a grandchild spins 0.6 s and is reaped by its
    parent, and a child that spun 0.6 s before the first sample is reaped
    by this process. The first must stay counted and the second must not
    be subtracted: the difference is the grandchild's 0.6 s."""
    done = tmp_path / "reaped"
    early = subprocess.Popen([sys.executable, "-c", SPIN + "time.sleep(30)"])
    child = None
    try:
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and tree_cpu_seconds(early.pid) < 0.6:
            time.sleep(0.05)
        child = subprocess.Popen([sys.executable, "-c", FORK_SPIN_REAP, str(done)])
        before = tree_cpu_seconds(os.getpid())
        early.kill()
        early.wait(timeout=10)
        while time.monotonic() < deadline and not done.exists():
            time.sleep(0.05)
        assert done.exists()
        assert tree_cpu_seconds(os.getpid()) - before >= 0.5
    finally:
        for p in (early, child):
            if p is not None:
                p.kill()
                p.wait(timeout=10)


NAMED_SPIN = """
import sys, threading, time
def spin():
    with open(f"/proc/self/task/{threading.get_native_id()}/comm", "w") as fh:
        fh.write("C2 CompilerThread0")
    t = time.thread_time()
    while time.thread_time() - t < 0.6: pass
    open(sys.argv[1], "w").close()
    time.sleep(30)
threading.Thread(target=spin, daemon=True).start()
time.sleep(30)
"""


def test_thread_cpu_counts_only_named_threads(tmp_path):
    """A thread named like a JIT compiler thread spins 0.6 s in a child;
    its CPU shows under the JIT names and under no other name."""
    done = tmp_path / "spun"
    child = subprocess.Popen([sys.executable, "-c", NAMED_SPIN, str(done)])
    try:
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and not done.exists():
            time.sleep(0.05)
        assert done.exists()
        assert tree_thread_cpu_seconds(os.getpid()) >= 0.5
        assert tree_thread_cpu_seconds(os.getpid(), names=("no such thread",)) == 0.0
        assert tree_cpu_seconds(child.pid) >= tree_thread_cpu_seconds(child.pid)
    finally:
        child.kill()
        child.wait(timeout=10)


# -------------------------------------------------------------- generator
def _table_fp(path):
    return check.fingerprint(pq.read_table(path).to_pandas().drop(columns=["embedding"], errors="ignore"))


def test_generator_is_deterministic(tmp_path):
    a = gen.make_sf(str(tmp_path / "a"), 7, 300, 200, 50)
    b = gen.make_sf(str(tmp_path / "b"), 7, 300, 200, 50)
    assert os.path.basename(a) == os.path.basename(b) == gen.dir_name(7, 300, 200, 50)
    for t in ("customer", "documents", "embeddings"):
        assert _table_fp(f"{a}/{t}.parquet") == _table_fp(f"{b}/{t}.parquet")
        assert pq.read_table(f"{a}/{t}.parquet").equals(pq.read_table(f"{b}/{t}.parquet"))


def test_other_seed_gives_other_ids_and_name(tmp_path):
    a = gen.make_sf(str(tmp_path), 1, 300, 200, 50)
    b = gen.make_sf(str(tmp_path), 2, 300, 200, 50)
    assert a != b
    keys_a = set(pq.read_table(f"{a}/customer.parquet").column("c_custkey").to_pylist())
    keys_b = set(pq.read_table(f"{b}/customer.parquet").column("c_custkey").to_pylist())
    assert not keys_a & keys_b
    ids_a = set(pq.read_table(f"{a}/documents.parquet").column("doc_id").to_pylist())
    ids_b = set(pq.read_table(f"{b}/documents.parquet").column("doc_id").to_pylist())
    assert ids_a != ids_b
    # a size change changes the basename too (engine cache keys use it)
    assert gen.dir_name(1, 300, 200, 50) != gen.dir_name(1, 301, 200, 50)


def test_generated_texts_keep_planted_duplicates(tmp_path):
    d = gen.make_sf(str(tmp_path), 3, 0, 500, 0)
    docs = pq.read_table(f"{d}/documents.parquet").to_pandas()
    assert docs.doc_id.max() < gen.DOC_ID_LIMIT
    key = docs.doc_id + 3 * 10_000_019
    by_key = dict(zip(key, docs.text))
    fives = [k for k in key if k % 5 == 0 and k - 1 in by_key and k % 7 and (k - 1) % 7]
    assert fives and all(by_key[k] == by_key[k - 1] for k in fives)
    assert all(by_key[k].endswith(f" zz{k % 3}") for k in key if k % 7 == 0)


def test_embeddings_shape(tmp_path):
    d = gen.make_sf(str(tmp_path), 4, 0, 0, 40)
    emb = pq.read_table(f"{d}/embeddings.parquet").to_pandas()
    assert list(emb.vec_id) == list(range(40))
    assert all(len(v) == gen.EMB_DIM for v in emb.embedding)


# --------------------------------------------------------------- checks
def test_fingerprint_ignores_row_order_but_not_rows():
    a = pd.DataFrame({"x": [1, 2, 3], "y": [0.1234567, 0.5, None]})
    b = a.iloc[::-1].reset_index(drop=True)[["y", "x"]]
    assert check.fingerprint(a) == check.fingerprint(b)
    assert check.fingerprint(a) != check.fingerprint(a.iloc[:2])
    assert check.fingerprint(a) != check.fingerprint(pd.concat([a, a.iloc[:1]]))
    # floats compare after rounding to 6 decimals
    c = a.assign(y=[0.12345670001, 0.5, None])
    assert check.fingerprint(a) == check.fingerprint(c)


def test_on_edges_marks_only_points_on_a_segment():
    edges = [(44.0, 19.4, 44.9, 18.8), (44.9, 18.8, 45.4, 19.0)]
    lat = [41.8 + 2.812, 44.612, 44.612, 44.9, 45.5, 44.5]
    lon = [18.3 + 0.692, 18.992, 18.993, 18.8, 19.04, 19.0]
    # on the first edge (as a double sum and as a literal), a lattice step
    # off it, a shared vertex, past the second edge's end, inside
    assert check.on_edges(lat, lon, edges).tolist() == [True, True, False, True, False, False]


# ------------------------------------------------------------- event log
FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def test_event_log_per_group_numbers():
    log = EventLog(FIXTURE)
    assert log.jobs_in_group("q:call") == [0]
    assert log.jobs_in_group("q:exec") == [1]
    call = log.summarize(log.jobs_in_group("q:call"))
    assert call["jobs"] == 1
    assert call["task_cpu_s"] == pytest.approx(0.21)  # (50 + 150 + 10) ms of CPU
    assert call["shuffle_mb"] == pytest.approx(3.0)
    assert call["spill_mb"] == pytest.approx(0.5)  # disk spill only
    assert call["skew"] == pytest.approx(1.5)  # longest stage: tasks of 100 and 300 ms
    assert call["join_rows"] == 7  # SortMergeJoin rows; the MapInPandas rows are not joins
    # 40 + 60 ms of "time to run Python workers"; worker initialisation is left out
    assert call["python_s"] == pytest.approx(0.1)
    exec_ = log.summarize(log.jobs_in_group("q:exec"))
    assert exec_["task_cpu_s"] == pytest.approx(0.003)
    assert exec_["skew"] == pytest.approx(4.5)  # tasks of 10, 20 and 90 ms
    assert exec_["join_rows"] == 15
    assert exec_["python_s"] == 0.0


def test_event_log_job_ranges_and_unknown_jobs():
    log = EventLog(FIXTURE)
    both = log.summarize(range(0, 2))
    assert both["jobs"] == 2 and both["join_rows"] == 22
    assert both["task_cpu_s"] == pytest.approx(0.213)
    assert log.summarize(range(0, 3))["task_cpu_s"] == pytest.approx(0.215)
    empty = log.summarize([99])
    assert empty["jobs"] == 0 and empty["skew"] == 0.0 and empty["task_cpu_s"] == 0.0
