"""Quick A/B harness for optimization experiments (r17).

Times a subset of declared queries with bench.py's exact hygiene
(_session + _time_one: warm-up, forced GC, min-of-2, noop sink) but
allows session-conf overrides, so a candidate config or code change can
be measured on the affected queries in ~a minute instead of a full
25-minute sweep. The full bench.py sweep remains the record; this tool
only ranks candidates.

Usage:
    python tools/ab_bench.py [--conf k=v ...] [--sf DIR] query [query ...]

Prints one JSON line: {"queries": {name: sec}, "conf": {...}, "steal": r}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    confs: dict[str, str] = {}
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--conf":
            k, _, v = next(it).partition("=")
            confs[k] = v
        elif a == "--sf":
            sf_dir = next(it)
        else:
            names.append(a)

    # Reuse bench._session so the A-side baseline is the RECORD
    # session, r17 configs included (ADVICE r17) — overrides ride on
    # top for the B side.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = bench._session(cpus, extra_conf=confs, app="iotstream-ab")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    s0 = bench._load_sample()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    out: dict[str, float] = {}
    for name in names:
        if name not in qs:
            out[name] = -2.0
            continue
        try:
            out[name] = round(bench._time_one(spark, qs[name], sf_dir), 3)
        except Exception as e:  # noqa: BLE001
            print(f"ab error in {name}: {e}", file=sys.stderr)
            out[name] = -1.0
    s1 = bench._load_sample()
    ratio = bench.window_steal_ratio(
        {"mono0": s0["mono"], "steal0": s0["steal_jiffies"],
         "mono1": s1["mono"], "steal1": s1["steal_jiffies"]},
        bench._tick_hz(), bench._proc_cpus(),
    )
    print(json.dumps({
        "queries": out,
        "total": round(sum(v for v in out.values() if v > 0), 3),
        "conf": confs,
        "steal": round(ratio, 4) if ratio >= 0 else -1.0,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
