"""CPU attribution meter for benchmark windows (VERDICT r4 item 2).

This box is a shared 32-CPU VM with two invisible noise sources that
have repeatedly contaminated driver bench records: neighbor-tenant
processes (background load swinging 0→13 cores within minutes) and
hypervisor steal (vCPUs handed to another VM — /proc/stat field 8,
invisible to load average and process accounting; a 32-way leg has
measured 4+ cores of steal on an "idle" box).

The meter decomposes a timed window's CPU into:

- ``own``      — CPU burned by OUR process subtree (the Spark JVM,
                 python workers, the driver), sampled at 1 Hz from
                 /proc/*/stat by walking each pid's ppid chain (py4j
                 may leave the JVM unreaped, so RUSAGE_CHILDREN alone
                 undercounts) plus explicit boundary samples so short
                 windows are covered;
- ``neighbor`` — whole-box busy CPU minus own: other tenants;
- ``steal``    — hypervisor steal; ``iowait`` — I/O wait.

bench.py stamps every per-query timing with a window, and the
benchmark child (perfbench/child.py) meters every timed pass, so a
noisy run is self-diagnosing from its own artifact.
"""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")


def box_cpu_s() -> dict:
    """Whole-box cumulative CPU-seconds by class (/proc/stat line 1):
    busy (everything except idle+iowait+steal), steal, iowait, idle."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    steal = v[7] if len(v) > 7 else 0
    # guest/guest_nice (fields 9/10) are already folded into user/nice
    # by the kernel — summing them too would double-count and misread a
    # clean window as neighbor-stormed
    guest = (v[8] if len(v) > 8 else 0) + (v[9] if len(v) > 9 else 0)
    return {"busy": (sum(v) - v[3] - v[4] - steal - guest) / _HZ,
            "steal": steal / _HZ,
            "iowait": v[4] / _HZ,
            "idle": v[3] / _HZ}


class DescendantCpuSampler(threading.Thread):
    """Accumulates CPU-seconds of OUR process subtree by sampling
    /proc/*/stat once a second and classifying each pid by walking its
    ppid chain up to our pid.  Error bound: ≤1 s of CPU per short-lived
    process (dies between samples), negligible for legs whose JVM lives
    the whole window.  ``sample_now``/``total_now`` allow synchronous
    boundary reads for short windows; all state is lock-guarded."""

    def __init__(self):
        super().__init__(daemon=True)
        self._halt = threading.Event()
        self._lock = threading.Lock()
        self._first = {}   # pid -> first-seen cumulative cpu (ours only)
        self._last = {}    # pid -> last-seen cumulative cpu (ours only)
        self._done = {}    # pids that vanished: their final contribution
        self._mine = os.getpid()
        # 1 Hz timeline of (epoch, own_cpu_s, box busy/steal/iowait
        # cumulative) so a storm can be located in time
        self.timeline = []

    def _ppid_chain_hits_us(self, pid: int, ppids: dict) -> bool:
        seen = 0
        while pid > 1 and seen < 64:
            if pid == self._mine:
                return True
            pid = ppids.get(pid, 0)
            seen += 1
        return False

    def sample_now(self) -> None:
        stats = {}
        ppids = {}
        for ent in os.listdir("/proc"):
            if not ent.isdigit():
                continue
            try:
                with open(f"/proc/{ent}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            # comm may contain spaces/parens: split after the LAST ')'
            rp = raw.rindex(")")
            fields = raw[rp + 2:].split()
            pid = int(ent)
            ppids[pid] = int(fields[1])          # field 4 (ppid)
            stats[pid] = (int(fields[11]) + int(fields[12])) / _HZ
        with self._lock:
            for pid, cpu in stats.items():
                if pid in self._first:
                    self._last[pid] = cpu
                elif self._ppid_chain_hits_us(pid, ppids):
                    self._first[pid] = cpu
                    self._last[pid] = cpu
            for pid in list(self._first):
                if pid not in stats:  # vanished: bank its contribution
                    self._done[pid] = self._done.get(pid, 0.0) + \
                        (self._last.pop(pid) - self._first.pop(pid))
            box = box_cpu_s()
            self.timeline.append(
                (round(time.time(), 1), round(self._total_nolock(), 1),
                 round(box["busy"], 1), round(box["steal"], 1),
                 round(box["iowait"], 1)))

    def _total_nolock(self) -> float:
        live = sum(self._last[p] - self._first[p] for p in self._first)
        return live + sum(self._done.values())

    def total_now(self) -> float:
        with self._lock:
            return self._total_nolock()

    def run(self):
        while not self._halt.is_set():
            try:
                self.sample_now()
            except Exception:
                pass
            self._halt.wait(1.0)

    def total(self) -> float:
        """Stop the thread and return the final subtree total."""
        self._halt.set()
        self.join(timeout=5)
        return self.total_now()


class CpuMeter:
    """One long-lived sampler + per-window deltas.

    Usage::

        meter = CpuMeter()           # starts the 1 Hz sampler thread
        meter.begin()
        ... timed work ...
        load = meter.end()           # {"own": .., "neighbor": ..,
                                     #  "steal": .., "iowait": ..} in
                                     # average cores over the window
    """

    def __init__(self):
        self._sampler = DescendantCpuSampler()
        self._sampler.start()
        self._t0 = None
        self._box0 = None
        self._own0 = None

    def begin(self) -> None:
        try:
            self._sampler.sample_now()
        except Exception:
            pass
        self._box0 = box_cpu_s()
        self._own0 = self._sampler.total_now()
        self._t0 = time.time()

    def end(self) -> dict:
        wall = max(time.time() - self._t0, 1e-6)
        try:
            self._sampler.sample_now()
        except Exception:
            pass
        box1 = box_cpu_s()
        own = max(0.0, self._sampler.total_now() - self._own0)
        busy = box1["busy"] - self._box0["busy"]
        return {
            "own": round(own / wall, 2),
            "neighbor": round(max(0.0, busy - own) / wall, 2),
            "steal": round((box1["steal"] - self._box0["steal"]) / wall, 2),
            "iowait": round((box1["iowait"] - self._box0["iowait"]) / wall, 2),
        }

    def close(self) -> None:
        self._sampler.total()
