"""Unit tests of the benchmark's helpers. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from itertools import islice
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import helpers  # noqa: E402
from perfbench.helpers import (  # noqa: E402
    Meter,
    Outcomes,
    host_steal_s,
    net_of_steal,
    pass_orders,
    peak_rss_mb,
    process_tree,
    summarize,
    tail_percentile,
    tree_cpu_s,
    tree_peak_rss_mb,
)
from perfbench.workloads import compare  # noqa: E402


# --- percentile with at least ten samples beyond it -----------------------
def test_tail_needs_more_than_ten_samples():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([]) is None


def test_tail_leaves_exactly_ten_samples_above():
    samples = list(range(100, 0, -1))  # unsorted on purpose
    pct, value = tail_percentile(samples)
    assert pct == 90.0
    assert value == 90
    assert sum(s > value for s in samples) == 10


def test_tail_eleven_samples_is_the_minimum():
    pct, value = tail_percentile([float(i) for i in range(11)])
    assert value == 0.0
    assert abs(pct - 100.0 / 11) < 1e-9


def test_tail_twenty_samples_is_the_median_region():
    pct, value = tail_percentile([float(i) for i in range(20)])
    assert (pct, value) == (50.0, 9.0)


def test_summarize_reports_count_and_no_tail_when_short():
    s = summarize([3.0, 1.0, 2.0])
    assert s == {"median": 2.0, "tail_pct": None, "tail": None, "n": 3}
    assert summarize([float(i) for i in range(30)])["tail"] == 19.0


# --- query order by seed --------------------------------------------------
NAMES = [f"q{i}" for i in range(12)]


def _orders(names, seed, passes):
    return list(islice(pass_orders(names, seed), passes))


def test_orders_are_permutations():
    for order in _orders(NAMES, 7, 5):
        assert sorted(order) == sorted(NAMES)


def test_same_seed_same_orders():
    assert _orders(NAMES, 3, 4) == _orders(NAMES, 3, 4)


def test_orders_change_with_seed_and_pass():
    a, b = _orders(NAMES, 1, 2), _orders(NAMES, 2, 2)
    assert a != b
    assert a[0] != a[1]


def test_orders_do_not_mutate_input():
    names = list(NAMES)
    _orders(names, 5, 3)
    assert names == NAMES


# --- failure accounting ---------------------------------------------------
def test_failed_share_counts_failures_over_attempts():
    out = Outcomes()
    for ok in (True, True, False, True):
        out.record(ok, "op")
    assert (out.attempted, out.failed) == (4, 1)
    assert out.failed_share == 0.25
    assert out.errors == ["op"]


def test_failed_share_with_nothing_attempted_is_total_failure():
    assert Outcomes().failed_share == 1.0


# --- result comparison (the parity gate's, as the benchmark imports it) ----
def test_compare_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, np.nan]})
    b = pd.DataFrame({"v": [np.nan, 0.5], "k": [2, 1]})
    assert compare(a, b)[0]


def test_compare_reports_value_and_count_mismatch():
    a = pd.DataFrame({"k": [1, 2]})
    assert not compare(a, pd.DataFrame({"k": [1, 3]}))[0]
    assert not compare(a, pd.DataFrame({"k": [1]}))[0]


def test_repository_scripts_leave_sys_path_alone():
    from perfbench.workloads import HEADLINE, import_script

    before = list(sys.path)
    import_script("tools.check_parity")
    assert sys.path == before
    assert len(HEADLINE) == 12


# --- /proc readers --------------------------------------------------------
def _fake_proc(root: Path, procs: dict[int, tuple[str, int, tuple[int, int, int, int], int]]) -> str:
    """procs: pid -> (comm, ppid, (utime, stime, cutime, cstime), VmHWM kB)"""
    for pid, (comm, ppid, ticks, hwm_kb) in procs.items():
        d = root / str(pid)
        d.mkdir()
        fields = ["S", str(ppid), *["0"] * 9, *map(str, ticks), *["0"] * 30]
        (d / "stat").write_text(f"{pid} ({comm}) {' '.join(fields)}\n")
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm_kb} kB\nVmRSS:\t1 kB\n")
    (root / "self").mkdir()  # non-numeric entries are skipped
    (root / "stat").write_text(f"cpu  1 2 3 4 5 6 7 {3 * helpers._CLK_TCK} 0 0\ncpu0 0 0 0 0 0 0 0 0 0 0\n")
    return str(root)


def _tree(tmp_path: Path) -> str:
    tck = helpers._CLK_TCK
    return _fake_proc(
        tmp_path,
        {
            1: ("init", 0, (0, 0, 0, 0), 100),
            10: ("python3", 1, (tck, tck, 0, 0), 2048),
            11: ("java", 10, (3 * tck, tck, 0, 0), 10240),
            12: ("python3", 11, (tck, 0, 2 * tck, 0), 4096),
            20: ("other (x)", 1, (9 * tck, 0, 0, 0), 99999),
        },
    )


def test_process_tree_follows_descendants_only(tmp_path):
    proc = _tree(tmp_path)
    assert process_tree(10, proc) == {10: "python3", 11: "java", 12: "python3"}
    assert process_tree(99, proc) == {}


def test_tree_cpu_sums_own_and_reaped_children(tmp_path):
    proc = _tree(tmp_path)
    assert tree_cpu_s(10, proc) == 2 + 4 + 3
    assert tree_cpu_s(20, proc) == 9


def test_host_steal_reads_the_cpu_line(tmp_path):
    assert host_steal_s(_tree(tmp_path)) == 3.0
    assert host_steal_s() >= 0.0


def test_net_of_steal_removes_the_stolen_share():
    assert net_of_steal(3.0, 4.0, 0.0) == 3.0
    assert net_of_steal(3.0, 3.0, 1.0) == 2.25  # a quarter of the CPU time was stolen
    assert net_of_steal(3.0, 0.0, 0.0) == 3.0  # nothing ran: nothing to take off


def test_meter_reads_one_span():
    meter = Meter(os.getpid())
    t = time.process_time()
    while time.process_time() - t < 0.2:
        pass
    span = meter.read()
    assert span["wall_s"] >= 0.2 and span["cpu_s"] >= 0.1 and span["steal_s"] >= 0.0
    assert span["net_s"] == net_of_steal(span["wall_s"], span["cpu_s"], span["steal_s"])


def test_peak_rss_reads_vmhwm(tmp_path):
    proc = _tree(tmp_path)
    assert peak_rss_mb(11, proc) == 10.0
    assert peak_rss_mb(404, proc) == 0.0
    assert tree_peak_rss_mb(10, ["python"], proc) == 4.0
    assert tree_peak_rss_mb(10, ["java"], proc) == 10.0
    assert tree_peak_rss_mb(10, ["ruby"], proc) == 0.0


def test_live_tree_sees_child_and_counts_its_cpu():
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass\ntime.sleep(5)"]
    )
    try:
        deadline = time.monotonic() + 10
        while tree_cpu_s(child.pid) < 0.25 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in process_tree(os.getpid())
        assert tree_cpu_s(child.pid) >= 0.25
        assert tree_peak_rss_mb(os.getpid(), ["python"]) > 1.0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None
