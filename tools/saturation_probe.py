"""Direct DRAM-saturation evidence for the build-scaling verdict
(VERDICT r5 #1): sample memory bandwidth CONCURRENTLY with the local[8]
build and report the residual, plus the build's own slowdown under an
injected bandwidth load.

Round 5's attribution — "the 2→8 build ratio is capped by this box's
shared memory system, not by the pipeline" — rested on share-nothing
controls (fleet_scaling, encode_probe, membw_probe) that are strong but
inferential: none of them measured the REAL build's bandwidth draw. This
probe does, two ways:

1. **Residual-bandwidth sampling.** Two persistent triad processes
   (c = a*x + b over 64 MiB float64 arrays — pure streaming DRAM
   traffic) report per-~2s throughput while `spark-submit --master
   local[8] bench.py` (build-only mode) runs. Solo, the same two
   processes measure the unloaded 2-proc stream rate; the full-box
   ceiling comes from an 8-proc solo run. If the build saturates DRAM,
   the concurrent samples collapse toward zero during the parts phase;
   if the samples stay near solo rate, the build leaves bandwidth on the
   table and the round-5 attribution is WRONG.

2. **Symmetric-steal control.** The same build runs once unloaded and
   once with the triad pair streaming throughout. A bandwidth-bound
   build must slow by ≈ the bandwidth the probe managed to take; a
   compute-bound build would not care (24 of 32 cores stay idle).

Output: one JSON line with the solo rates, the concurrent sample
timeline, residual fractions, and both builds' docs/sec. The protocol
section in BENCH/BASELINE.md cites the numbers; raw JSON is archived at
BENCH/saturation_r6.json.

Usage: python tools/saturation_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARR_MB = 64
BURST_S = 2.0


def _triad_stream(stop_evt, out_q, ident):
    """Persistent triad worker: stream passes forever, push (t_mid, GiB/s)
    per ~BURST_S window. Warm-up (page fault-in — ~35 s on this VM's
    lazily-backed memory at ~300 µs/page) happens before the first
    report; a ('ready', ...) message tells the parent sampling may
    begin, so every sample is steady-state."""
    n = (ARR_MB << 20) // 8
    a = np.ones(n)
    b = np.ones(n)
    c = np.empty(n)
    x = 1.000001
    for _ in range(2):
        np.multiply(a, x, out=c)
        c += b
    out_q.put(("ready", ident, time.time()))
    while not stop_evt.is_set():
        t0 = time.time()
        passes = 0
        while time.time() - t0 < BURST_S:
            np.multiply(a, x, out=c)
            c += b
            passes += 1
        dt = time.time() - t0
        out_q.put((ident, (t0 + dt / 2), passes * 3 * ARR_MB / 1024.0 / dt))


class TriadPair:
    """Two concurrent persistent triad processes + a sample collector."""

    def __init__(self, nproc: int = 2):
        self.ctx = mp.get_context("spawn")
        self.stop = self.ctx.Event()
        self.q = self.ctx.Queue()
        self.procs = [
            self.ctx.Process(target=_triad_stream, args=(self.stop, self.q, i))
            for i in range(nproc)
        ]
        self.nproc = nproc

    def start(self):
        for p in self.procs:
            p.start()

    def wait_ready(self, timeout: float = 180.0) -> list:
        """Block until every worker finished its page-fault warm-up.
        Returns any samples that arrived alongside the ready marks."""
        ready = 0
        extras = []
        t0 = time.time()
        while ready < self.nproc and time.time() - t0 < timeout:
            try:
                item = self.q.get(timeout=1.0)
            except Exception:
                continue
            if item[0] == "ready":
                ready += 1
            else:
                extras.append(item)
        if ready < self.nproc:
            raise RuntimeError(f"only {ready}/{self.nproc} probes ready")
        return extras

    def drain(self) -> list[tuple[int, float, float]]:
        out = []
        while True:
            try:
                item = self.q.get(timeout=0.5)
            except Exception:
                return out
            if item[0] != "ready":
                out.append(item)

    def finish(self) -> list[tuple[int, float, float]]:
        self.stop.set()
        time.sleep(BURST_S + 0.5)
        samples = self.drain()
        for p in self.procs:
            p.join(timeout=10)
            if p.is_alive():
                p.terminate()
        return samples


def aggregate_timeline(samples, t_base) -> list[dict]:
    """Per-window aggregate GiB/s across the pair: bucket samples into
    BURST_S-wide windows keyed off t_base and sum over processes."""
    buckets: dict[int, list[float]] = {}
    for _, t_mid, rate in samples:
        buckets.setdefault(int((t_mid - t_base) // BURST_S), []).append(rate)
    return [
        {
            "t_s": round(k * BURST_S, 1),
            "agg_gibs": round(sum(v), 2),
            "n": len(v),
        }
        for k, v in sorted(buckets.items())
    ]


def solo_rate(nproc: int, seconds: float = 8.0) -> float:
    pair = TriadPair(nproc)
    pair.start()
    pair.wait_ready()
    time.sleep(seconds)
    samples = pair.finish()
    # steady aggregate: mean of full windows (need all nproc present)
    tl = aggregate_timeline(samples, min(s[1] for s in samples))
    full = [w["agg_gibs"] for w in tl if w["n"] == nproc]
    return round(float(np.median(full)), 2) if full else 0.0


def run_build(cpus: int, sf_dir: str, zpath: str, tag: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_IDX=f"/dev/shm/tesserae_sat_idx_{tag}",
        SPARK_GRAFT_REPLICAS=os.environ.get("SPARK_GRAFT_REPLICAS", "96"),
        SPARK_GRAFT_NPARTS=os.environ.get("SPARK_GRAFT_NPARTS", "2"),
        SPARK_GRAFT_BUILD_ONLY="1",
    )
    cmd = [
        "spark-submit",
        "--master", f"local[{cpus}]",
        "--driver-memory", "24g",
        "--py-files", zpath,
        os.path.join(REPO, "bench.py"),
    ]
    t0 = time.time()
    out = subprocess.run(cmd, env=env, capture_output=True, text=True,
                         timeout=3600)
    wall = time.time() - t0
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    res = json.loads(line)
    res["_wall"] = wall
    res["_t0"] = t0
    return res


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from bench_scaling import make_pyfiles_zip

    zpath = make_pyfiles_zip()
    out: dict = {"nproc_probe": 2}

    print("=== solo triad rates ...", file=sys.stderr)
    out["solo_2proc_gibs"] = solo_rate(2)
    out["solo_8proc_gibs"] = solo_rate(8)

    print("=== unloaded local[8] build (reference) ...", file=sys.stderr)
    ref = run_build(8, sf_dir, zpath, "ref")
    out["build_unloaded"] = {
        "docs_per_sec": ref["docs_per_sec"],
        "build_s": ref["queries"]["build_index"],
        "phases": ref["build_phases"],
        "n_docs": ref["n_docs"],
    }

    print("=== local[8] build + concurrent 2-proc triad ...", file=sys.stderr)
    pair = TriadPair(2)
    pair.start()
    pair.wait_ready()
    time.sleep(2 * BURST_S)  # capture a pre-build baseline segment
    t_launch = time.time()
    loaded = run_build(8, sf_dir, zpath, "loaded")
    time.sleep(2 * BURST_S)  # and a post-build segment
    samples = pair.finish()
    timeline = aggregate_timeline(samples, t_launch)
    out["build_loaded"] = {
        "docs_per_sec": loaded["docs_per_sec"],
        "build_s": loaded["queries"]["build_index"],
        "phases": loaded["build_phases"],
    }
    out["timeline"] = timeline

    # segment the timeline: the build process occupies [0, wall]; JVM+
    # corpus-synthesis head ≈ wall - build_s; the parts phase is the first
    # parts_s seconds of the build segment
    wall = loaded["_wall"]
    build_start = wall - loaded["queries"]["build_index"]
    parts_end = build_start + loaded["build_phases"].get("parts_s", 0.0)
    during = [
        w["agg_gibs"] for w in timeline
        if 0 <= w["t_s"] <= wall and w["n"] == 2
    ]
    during_parts = [
        w["agg_gibs"] for w in timeline
        if build_start <= w["t_s"] <= parts_end and w["n"] == 2
    ]
    outside = [
        w["agg_gibs"] for w in timeline
        if (w["t_s"] < 0 or w["t_s"] > wall + BURST_S) and w["n"] == 2
    ]
    def med(xs):
        return round(float(np.median(xs)), 2) if xs else None

    out["probe_gibs_outside_build"] = med(outside)
    out["probe_gibs_during_build_median"] = med(during)
    out["probe_gibs_during_parts_median"] = med(during_parts)
    out["probe_gibs_during_parts_min"] = (
        round(min(during_parts), 2) if during_parts else None
    )
    solo = out["solo_2proc_gibs"]
    if solo:
        out["residual_fraction_parts"] = (
            round(med(during_parts) / solo, 3) if during_parts else None
        )
    out["build_slowdown_under_probe"] = round(
        out["build_unloaded"]["docs_per_sec"]
        / max(out["build_loaded"]["docs_per_sec"], 1e-9),
        3,
    )
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "saturation_r6.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
