"""Pure helpers of the benchmark: summary statistics, seeded query order,
failure accounting and /proc process-tree readers."""

from __future__ import annotations

import os
import random
import statistics
import time
from collections.abc import Iterable, Iterator, Sequence

TAIL_BEYOND = 10  # samples that must lie above a reported tail percentile


def tail_percentile(samples: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it, as
    ``(percentile, value)``: with ``n`` sorted samples that is the sample at
    index ``n - beyond - 1``, the ``(n - beyond) / n`` quantile. ``None``
    when there are too few samples for any such percentile."""
    n = len(samples)
    if n <= beyond:
        return None
    ordered = sorted(samples)
    return 100.0 * (n - beyond) / n, ordered[n - beyond - 1]


def summarize(samples: Sequence[float]) -> dict[str, float | int | None]:
    """Median, highest percentile with ten samples beyond it, and count."""
    tail = tail_percentile(samples)
    return {
        "median": statistics.median(samples) if samples else None,
        "tail_pct": tail[0] if tail else None,
        "tail": tail[1] if tail else None,
        "n": len(samples),
    }


def pass_orders(names: Sequence[str], seed: int) -> Iterator[list[str]]:
    """One seeded permutation of ``names`` per pass, without end; the same
    seed always gives the same sequence of orders."""
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


class Outcomes:
    """Operations attempted and failed (exception or wrong result)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# --- /proc readers -------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, proc: str = "/proc") -> list[str] | None:
    try:
        with open(f"{proc}/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may contain spaces; fields resume after its ')'
    head, _, rest = raw.rpartition(")")
    return [head.split(" (", 1)[1], *rest.split()]


def process_tree(root: int, proc: str = "/proc") -> dict[int, str]:
    """``{pid: comm}`` of ``root`` and every live descendant."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry), proc)
        if fields is not None:
            comm[int(entry)] = fields[0]
            parent[int(entry)] = int(fields[2])
    tree = {root} if root in comm else set()
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return {pid: comm[pid] for pid in tree}


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """CPU seconds (user + system, own + reaped children) of ``root``'s
    process tree. The difference of two readings is the CPU the tree used
    in between, including processes that started and ended in between."""
    ticks = 0
    for pid in process_tree(root, proc):
        fields = _stat_fields(pid, proc)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            ticks += sum(int(x) for x in fields[12:16])
    return ticks / _CLK_TCK


def host_steal_s(proc: str = "/proc") -> float:
    """CPU seconds the hypervisor gave to others while this machine's CPUs
    wanted to run (steal, the eighth value of the ``cpu`` line of
    ``/proc/stat``), summed over CPUs since boot."""
    with open(f"{proc}/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK if fields[0] == "cpu" and len(fields) > 8 else 0.0


def net_of_steal(wall: float, cpu: float, steal: float) -> float:
    """``wall`` less the share of it the hypervisor held the machine's
    runnable CPUs: ``wall * cpu / (cpu + steal)``, with ``cpu`` the CPU time
    the run's processes used and ``steal`` the host's steal in that span.
    On a host that steals nothing it is ``wall``."""
    return wall * cpu / (cpu + steal) if cpu + steal > 0 else wall


class Meter:
    """Times one span of a run: wall, the CPU time of ``root``'s process
    tree, the host's steal, and the wall net of steal."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.t0, self.cpu0, self.steal0 = time.perf_counter(), tree_cpu_s(root), host_steal_s()

    def read(self) -> dict[str, float]:
        wall = time.perf_counter() - self.t0
        cpu = tree_cpu_s(self.root) - self.cpu0
        steal = host_steal_s() - self.steal0
        return {"wall_s": wall, "cpu_s": cpu, "steal_s": steal, "net_s": net_of_steal(wall, cpu, steal)}


def peak_rss_mb(pid: int, proc: str = "/proc") -> float:
    """High-water resident set size (VmHWM) of one process, in MB."""
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_peak_rss_mb(root: int, names: Iterable[str], proc: str = "/proc") -> float:
    """Largest VmHWM among processes of ``root``'s tree whose command name
    starts with one of ``names``."""
    prefixes = tuple(names)
    return max(
        (peak_rss_mb(pid, proc) for pid, c in process_tree(root, proc).items() if c.startswith(prefixes)),
        default=0.0,
    )
