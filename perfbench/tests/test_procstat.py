"""/proc sampler on a recorded fake process tree (no Spark, no live /proc).

Tree under fixtures/proc: driver python3 (100) -> java (200) -> pyspark
daemon python3.11 (300) -> worker python3.11 (301) and a process whose comm
holds spaces and parentheses (302); bash (999) and init (1) are outside it.
300 and 301 also have an ``smaps_rollup``; java lists its threads, two of
them JIT compilers.
"""

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import procstat  # noqa: E402

FAKE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "proc")


def test_parse_stat_comm_with_spaces_and_parens():
    with open(os.path.join(FAKE, "302", "stat")) as fh:
        p = procstat.parse_stat(fh.read())
    assert (p.pid, p.ppid, p.comm) == (302, 300, "odd (name) x")
    assert p.ticks == 2
    assert p.rss_pages == 256


def test_parse_stat_sums_own_and_reaped_children_cpu():
    with open(os.path.join(FAKE, "300", "stat")) as fh:
        p = procstat.parse_stat(fh.read())
    assert p.ticks == 10 + 2 + 300 + 20


def test_subtree_excludes_unrelated_processes():
    procs = procstat.scan(FAKE)
    assert set(procs) == {1, 100, 200, 300, 301, 302, 999}
    assert {p.pid for p in procstat.subtree(procs, 100)} == {100, 200, 300, 301, 302}
    assert {p.pid for p in procstat.subtree(procs, 300)} == {300, 301, 302}
    assert procstat.subtree(procs, 12345) == []


def test_tree_usage_totals_and_python_worker_share():
    u = procstat.tree_usage(100, FAKE)
    tck = procstat.CLK_TCK
    total = (50 + 10) + (400 + 40 + 5 + 1) + (10 + 2 + 300 + 20) + (100 + 5) + 2
    assert u.cpu_s == total / tck
    # python processes below the root: the daemon (with its reaped workers)
    # and the live worker; not the driver itself, not java, not 302
    assert u.py_cpu_s == ((10 + 2 + 300 + 20) + (100 + 5)) / tck
    # java's threads: 201 and 202 are the JIT compilers
    assert u.jit_cpu_s == ((250 + 3) + (60 + 1)) / tck
    assert u.work_cpu_s == u.cpu_s - u.jit_cpu_s
    assert u.n_procs == 5


def test_tree_pss_uses_smaps_rollup_and_falls_back_to_rss():
    # 300 and 301 have smaps_rollup (PSS 20480 and 8192 kB); 302 has none
    kb = 20480 + 8192 + 256 * procstat.PAGE_SIZE // 1024
    assert procstat.tree_pss_mb(300, FAKE) == kb / 1024
    assert procstat.pss_kb(302, FAKE) is None


def test_tree_pss_leaves_out_the_jvm():
    # from the driver: 100 (no smaps_rollup, RSS) + the workers; java is skipped
    kb = 25600 * procstat.PAGE_SIZE // 1024 + 20480 + 8192 + 256 * procstat.PAGE_SIZE // 1024
    assert procstat.tree_pss_mb(100, FAKE) == kb / 1024


def test_descendants_exclude_root():
    assert sorted(procstat.descendants(200, FAKE)) == [300, 301, 302]


def test_scan_skips_a_process_that_exited_mid_scan(tmp_path):
    root = tmp_path / "proc"
    shutil.copytree(FAKE, root)
    (root / "777").mkdir()      # listed, but its stat is already gone
    (root / "self").mkdir()     # non-numeric entries are not processes
    assert set(procstat.scan(str(root))) == {1, 100, 200, 300, 301, 302, 999}


def test_peak_memory_keeps_the_largest_sample(tmp_path):
    root = tmp_path / "proc"
    shutil.copytree(FAKE, root)
    with procstat.PeakMemory(301, interval_s=0.01, proc_root=str(root)) as peak:
        # the worker shrinks while sampled; the peak keeps the first reading
        (root / "301" / "smaps_rollup").write_text("Pss: 1024 kB\n")
    assert peak.peak_mb == 8.0
