"""Host memory-backing probe — attributes scaling-pair collapse to the VM.

The r6 64k scaling pairs collapsed (job 0.18-0.42 vs r5's 0.40-0.80 median
0.66) on a byte-identical extraction path (zero commits touched it since r5
— verified by `git diff r5..HEAD -- <extraction files>`). Phase attribution
(the differential runs in BENCH/phases_r6_64k*.jsonl) localized the
collapse to the scan/decode phase (efficiency 0.106, 73% of local[16]
wall), with the job mostly BLOCKED
(1-5 busy cores, sys>=user, hypervisor supervisor hot, steal spikes).

This probe separates the three remaining hypotheses without Spark:

  files    warm-page-cache concurrent file reads over the bench corpus
           (the raw scan IO path) at 4 vs 16 pinned processes;
  touch    anonymous-memory FIRST-TOUCH throughput at fixed concurrency
           and increasing TOTAL footprint (the allocation path a 16g-heap
           JVM + 16 Arrow workers exercise);
  retouch  re-access of already-resident memory (is backing persistent?).

Measured on the r6 VM (2026-08-17, BENCH/BASELINE.md r6 section):

  files  : 13.7 GB/s @4 -> 23.0 GB/s @16        (scales; not IO)
  touch  : 16 procs, 8GB total: 14-17 GB/s      (scales; not concurrency)
           16 procs, 16GB total:  5.0 GB/s
           16 procs, 20GB total:  2.1 GB/s
           1  proc, 18GB:         0.08 GB/s     (246 s for 18 GB!)
  retouch: pass0 1.2 GB/s, pass1 9.9 GB/s       (backing converges)

Conclusion: the hypervisor backs guest RAM lazily and its backing path
collapses once a burst of fresh pages exceeds ~12-15 GB — a budget that
fluctuates with host co-tenancy. The extraction job at local[16] cannot
stay under it: 16 concurrent tasks on the 25 MB skew docs OOM at 6/8/10g
heap (measured), so the required 16g heap + 16 Arrow workers + 4.7 GB page
cache necessarily cross the slow regime, while local[4] generates faults
4x slower and the host keeps up — deflating every N->4N pair measured in
a bad window. The pure-CPU control (small working set) is blind to this,
which is exactly why the protocol runs one control per pair: job/control
divergence with a CLEAN control marks a window where the host memory
budget, not the job, bound throughput.

    python tools/hostmem_probe.py [--quick]

Prints one JSON line per experiment; ~3 min full, ~40 s with --quick
(skips the 18GB single-proc catastrophe measurement).
"""

from __future__ import annotations

import argparse
import glob
import json
import mmap
import os
import sys
import time
from multiprocessing import Process, Queue

GB = 1 << 30
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = "/tmp/t2p_bench_corpus_64000_42"


def _read_worker(q, core, myfiles):
    os.sched_setaffinity(0, {core})
    t0 = time.perf_counter()
    n = 0
    for f in myfiles:
        with open(f, "rb") as fh:
            while True:
                b = fh.read(1 << 20)
                if not b:
                    break
                n += len(b)
    q.put((n, time.perf_counter() - t0))


def probe_files() -> dict:
    files = sorted(glob.glob(f"{CORPUS}/*/*.parquet")
                   or glob.glob(f"{CORPUS}/*.parquet"))
    if not files:
        return {"probe": "files", "skipped": "no bench corpus at " + CORPUS}
    os.system(f"cat {CORPUS}/*/*.parquet > /dev/null 2>&1; "
              f"cat {CORPUS}/*.parquet > /dev/null 2>&1")
    out = {"probe": "files", "gb": round(
        sum(os.path.getsize(f) for f in files) / 1e9, 2)}
    for nproc in (4, 16):
        q = Queue()
        ps = [Process(target=_read_worker, args=(q, c, files[c::nproc]))
              for c in range(nproc)]
        t0 = time.perf_counter()
        [p.start() for p in ps]
        [p.join() for p in ps]
        wall = time.perf_counter() - t0
        tot = sum(q.get()[0] for _ in ps)
        out[f"gbps_{nproc}p"] = round(tot / wall / 1e9, 2)
    return out


def _touch_worker(q, core, nbytes):
    os.sched_setaffinity(0, {core})
    t0 = time.perf_counter()
    m = mmap.mmap(-1, nbytes)
    for off in range(0, nbytes, 4096):
        m[off] = 1
    q.put((nbytes, time.perf_counter() - t0))
    m.close()


def probe_touch(totals_gb=(8, 16, 20)) -> list:
    res = []
    for total in totals_gb:
        per = (total * GB) // 16
        q = Queue()
        ps = [Process(target=_touch_worker, args=(q, c, per))
              for c in range(16)]
        t0 = time.perf_counter()
        [p.start() for p in ps]
        [p.join() for p in ps]
        wall = time.perf_counter() - t0
        tot = sum(q.get()[0] for _ in ps)
        res.append({"probe": "touch", "procs": 16, "total_gb": total,
                    "gbps": round(tot / wall / 1e9, 2),
                    "wall_s": round(wall, 2)})
    return res


def probe_retouch(gb=18) -> dict:
    n = gb * GB
    m = mmap.mmap(-1, n)
    t0 = time.perf_counter()
    for off in range(0, n, 4096):
        m[off] = 1
    first = time.perf_counter() - t0
    passes = []
    for _ in range(2):
        t0 = time.perf_counter()
        s = 0
        for off in range(0, n, 4096):
            s += m[off]
        passes.append(round(n / 1e9 / (time.perf_counter() - t0), 2))
    m.close()
    return {"probe": "retouch", "gb": gb,
            "first_touch_gbps": round(n / 1e9 / first, 2),
            "first_touch_s": round(first, 1),
            "retouch_gbps": passes}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true",
                    help="skip the 18GB single-proc catastrophe probe")
    args = ap.parse_args()
    print(json.dumps(probe_files()), flush=True)
    for r in probe_touch():
        print(json.dumps(r), flush=True)
    if not args.quick:
        print(json.dumps(probe_retouch()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
