#!/usr/bin/env python3
"""Decade scaling report: per-key factor between two scale factors.

Usage:
    python3 scripts/decade_report.py <lo_sf> <hi_sf> <lo_input> <hi_input> <out.json> [notes.json]

    python3 scripts/decade_report.py sf0.1 sf1 bench/sf01_full.json target/sf1_full.json out.json
    python3 scripts/decade_report.py sf10 sf100 probe_sf10.tsv probe_sf100.tsv out.json notes.json

factor = hi_sec / lo_sec. One decade is 10x the rows, so a factor
<= ~12 is linear-or-better (allowing fixed-overhead amortization on
sub-second keys); the report flags every key above 12.

Each input is either
  - a Bench full artifact (target/bench_full.json or a copy):
    "queries" medians, "spread" [min, max] and an "errors" map; or
  - a TSV from scripts/bench_one.sh / scripts/sf100_probe.sh:
    OK <key> <median> [<min> <max>], or TIMEOUT/KILLED/ERR <key> <msg>.
    Later lines for a key override earlier ones, so a re-measurement
    supersedes a contaminated first pass.

A TSV is a probe of chosen keys, a full artifact covers every key: when
any input is a TSV the report covers the TSV keys, otherwise every key
of both artifacts. A covered key missing from either input gets an
explicit error record, so a child JVM that died without writing a line
surfaces instead of vanishing. notes.json (optional) maps key ->
adjudication string, merged into the per-key records.

Every report records the cores, RAM and free disk of the machine that
wrote it. Both inputs must come from the same configuration (cores,
heap, isolation) or the factors are noise.
"""

import json
import os
import shutil
import sys

FLAG = 12


def read_input(path):
    """(key -> (median_sec, [min, max] or None) or error string, is_tsv, meta)."""
    if path.endswith(".json"):
        with open(path) as f:
            full = json.load(f)
        spread = full.get("spread", {})
        out = {k: (v, spread.get(k)) for k, v in full["queries"].items()}
        out.update(full.get("errors", {}))
        meta = {k: full[k] for k in ("trials", "isolation", "sf") if k in full}
        return out, False, meta
    out = {}
    with open(path) as f:
        for line in f:
            parts = line.strip().split("\t")
            if len(parts) < 3 or parts[0] not in ("OK", "TIMEOUT", "KILLED", "ERR"):
                continue
            key = parts[1]
            if parts[0] == "OK":
                spread = [float(parts[3]), float(parts[4])] if len(parts) >= 5 else None
                out[key] = (float(parts[2]), spread)
            else:
                out[key] = parts[0] + " " + parts[2][:120]
    return out, True, {}


def machine(out_path):
    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    disk = shutil.disk_usage(os.path.dirname(os.path.abspath(out_path)))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1) if mem_kb else None,
        "disk_free_gb": round(disk.free / 2**30, 1),
    }


def main():
    if len(sys.argv) < 6:
        sys.exit(__doc__)
    lo, hi, lo_path, hi_path, out_path = sys.argv[1:6]
    notes = {}
    if len(sys.argv) > 6:
        with open(sys.argv[6]) as f:
            notes = json.load(f)
    (lo_v, lo_tsv, lo_meta), (hi_v, hi_tsv, hi_meta) = (
        read_input(lo_path), read_input(hi_path))
    if lo_tsv or hi_tsv:
        keys = set(lo_v if lo_tsv else ()) | set(hi_v if hi_tsv else ())
    else:
        keys = set(lo_v) | set(hi_v)

    qs = {}
    for key in sorted(keys):
        rec = {}
        for scale, vals in ((lo, lo_v), (hi, hi_v)):
            v = vals.get(key)
            if v is None or isinstance(v, str):
                rec[scale] = None
                msg = v or f"missing at {scale} (no result line: child died?)"
                rec["error"] = (rec.get("error", "") + " " + msg).strip()
            else:
                rec[scale] = v[0]
                if v[1] is not None:
                    rec[scale + "_spread"] = v[1]
        if rec[lo] and rec[hi] is not None:
            rec["factor"] = round(rec[hi] / rec[lo], 1)
        if key in notes:
            rec["note"] = notes[key]
        qs[key] = rec

    factored = {k: r["factor"] for k, r in qs.items() if "factor" in r}
    factors = sorted(factored.values())
    flagged = {k: f for k, f in factored.items() if f > FLAG}
    errors = sorted(k for k in qs if qs[k].get("error"))
    out = {
        "metric": f"{hi}_scaling_probe",
        "unit": "sec",
        "factor": f"{hi}_sec / {lo}_sec",
        "machine": machine(out_path),
        "inputs": {lo: dict(lo_meta, path=lo_path), hi: dict(hi_meta, path=hi_path)},
        "n_keys": len(qs),
        "n_probed": len(factored),
        "n_errors": len(errors),
        "errors": errors,
        "median_factor": factors[len(factors) // 2] if factors else None,
        "worst_scaler": max(factored, key=factored.get) if factored else None,
        f"flagged_gt{FLAG}x": dict(sorted(flagged.items(), key=lambda kv: -kv[1])),
        "queries": qs,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    worst = out["worst_scaler"]
    print(f"{len(factored)}/{len(qs)} probed -> {out_path}; median factor "
          f"{out['median_factor']}, worst {worst} "
          f"({factored[worst] if worst else '-'}x), {len(flagged)} flagged "
          f">{FLAG}x, {len(errors)} errors; machine {out['machine']}")
    for k, v in sorted(flagged.items(), key=lambda kv: -kv[1])[:15]:
        print(f"  {v:6.1f}x {k} ({qs[k][lo]:.2f}s -> {qs[k][hi]:.2f}s)")


if __name__ == "__main__":
    main()
