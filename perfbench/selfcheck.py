"""Self-checks of the benchmark itself, not of the engine.

    python3 perfbench/selfcheck.py [--seed 7] [--seconds 2]

1. Attribution.  The traced ``raster`` workload runs twice, once with
   ``slice_tiles(tile_fmt='raw')`` (a public argument).  Raw tiles must move
   the Arrow bytes returned from Python and the codec encode cost, and
   leave the input-side layers (file scans, bytes sent to Python, the
   polygons job's writes) where they were.  The traced ``joins`` workload,
   which never tiles pixels, runs under both settings too: every
   ``joins.*`` count must be identical and every ``joins.*`` time within
   a noise factor.
2. Failing loudly.  A run against a deliberately wrong reference must exit
   with 1 and report ``"correct": false`` with every attempted job failed.

Exits 0 when every check holds; prints one line per check.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIME_FACTOR = 1.5  # joins.* times and skews may differ by this much between two runs


def bench(workload: str, seed: int, seconds: float, *extra: str) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    return proc.returncode, json.loads(last)


def values(result: dict) -> dict[str, float]:
    return {k: v["value"] for k, v in result.get("metrics", {}).items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=float, default=2)
    args = p.parse_args(argv)
    checks: list[tuple[str, bool]] = []

    def check(name: str, ok: bool) -> None:
        checks.append((name, ok))
        print(f"{'ok  ' if ok else 'FAIL'} {name}", flush=True)

    runs = {}
    for workload in ("raster", "joins"):
        for fmt in ("png", "raw"):
            rc, res = bench(workload, args.seed, args.seconds, "--trace", "1", "--tile-fmt", fmt)
            check(f"{workload} traced, tile_fmt={fmt}: exit 0 and correct",
                  rc == 0 and res.get("correct") is True)
            runs[workload, fmt] = values(res)

    png, raw = runs["raster", "png"], runs["raster", "raw"]

    def ratio(key: str) -> float:
        return raw.get(key, 0.0) / png[key] if png.get(key) else float("nan")

    check(f"raster: arrow.recv_mb moves (raw/png = {ratio('arrow.recv_mb'):.2f}, want > 2)",
          ratio("arrow.recv_mb") > 2)
    check(f"raster: codec.encode_share drops ({png.get('codec.encode_share', 0):.3f}"
          f" -> {raw.get('codec.encode_share', 0):.3f})",
          raw.get("codec.encode_share", 1) < 0.5 * png.get("codec.encode_share", 0))
    check(f"raster: codec.encode_us_per_tile drops (raw/png = {ratio('codec.encode_us_per_tile'):.2f})",
          ratio("codec.encode_us_per_tile") < 0.5)
    for key, tol in (("scan.mb", 0.01), ("arrow.sent_mb", 0.02), ("write.mb", 0.02)):
        check(f"raster: {key} unchanged (raw/png = {ratio(key):.3f})", abs(ratio(key) - 1) <= tol)

    png, raw = runs["joins", "png"], runs["joins", "raw"]
    for key in sorted(k for k in png if k.startswith("joins.")):
        if key.endswith(("_s", "_skew")):  # times and ratios of task times
            r = raw.get(key, 0.0) / png[key] if png[key] else float("nan")
            check(f"joins: {key} unchanged within x{TIME_FACTOR} (ratio {r:.2f})",
                  1 / TIME_FACTOR <= r <= TIME_FACTOR)
        else:
            check(f"joins: {key} identical ({png[key]:.6g})", raw.get(key) == png[key])

    rc, res = bench("joins", args.seed, 1, "--wrong-reference")
    check(f"wrong reference: exit 1, correct false, all {res.get('attempted')} jobs failed",
          rc == 1 and res.get("correct") is False
          and res.get("failed") == res.get("attempted", -1) > 0)

    failed = [name for name, ok in checks if not ok]
    print(f"{len(checks) - len(failed)}/{len(checks)} checks hold")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
