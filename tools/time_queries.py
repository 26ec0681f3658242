"""Ad-hoc warm timer for individual registry queries.

Mirrors bench.py's timed action (noop sink) but enforces the r13 lesson
as the DEFAULT protocol: on this box 3-round A/Bs are below the noise
floor for ~1 s deltas (two r13 changes landed on 3-round A/Bs had to be
reverted on 5-round ones), so every measurement is now >= 5 rounds and
both min AND median are printed. One untimed warm-up precedes the timed
rounds, matching bench.py.

A/B mode times two arms INTERLEAVED in one session (A,B,A,B,... each
round) so box drift hits both arms equally:

  --ab fanout[:mod1,mod2,...]   arm B patches ``fan_out`` to identity in
                                the named workload modules (default: all
                                modules that imported it), isolating the
                                r13 fan_out wave per call site.

Usage:
  python tools/time_queries.py [sf_dir] [--rounds N] [--ab fanout[:mods]] name [name ...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MIN_ROUNDS = 5


def _fanout_patch_points(mods: list[str] | None):
    """(module, attr, original) for every bound fan_out reference to patch."""
    import prometheus_clickhouselog_exporter_spark.workloads as wl
    from prometheus_clickhouselog_exporter_spark.operators import suffixes
    from prometheus_clickhouselog_exporter_spark.sources import tables

    points = []
    import importlib
    import pkgutil

    for info in pkgutil.iter_modules(wl.__path__):
        if mods is not None and info.name not in mods:
            continue
        m = importlib.import_module(f"{wl.__name__}.{info.name}")
        if getattr(m, "fan_out", None) is tables.fan_out:
            points.append((m, "fan_out", m.fan_out))
    if mods is None or "suffixes" in (mods or []):
        if getattr(suffixes, "fan_out", None) is tables.fan_out:
            points.append((suffixes, "fan_out", suffixes.fan_out))
    return points


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    rounds = MIN_ROUNDS
    ab = None
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--rounds":
            rounds = max(MIN_ROUNDS, int(args[i + 1]))
            i += 2
        elif args[i] == "--ab":
            ab = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    from prometheus_clickhouselog_exporter_spark.session import get_spark
    from prometheus_clickhouselog_exporter_spark.workloads import QUERIES

    spark = get_spark("time-queries")

    patch_points = []
    if ab:
        kind, _, modlist = ab.partition(":")
        if kind != "fanout":
            raise SystemExit(f"unknown --ab mode: {kind}")
        mods = modlist.split(",") if modlist else None
        patch_points = _fanout_patch_points(mods)
        patched = ", ".join(m.__name__.rsplit(".", 1)[-1] for m, _, _ in patch_points)
        print(f"# arm B disables fan_out in: {patched}", flush=True)

    def set_arm_b(on: bool) -> None:
        for m, attr, orig in patch_points:
            setattr(m, attr, (lambda df, min_factor=2: df) if on else orig)

    def run_once(fn) -> float:
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"time: {name}")
        run_once(fn)  # warm (arm A form)
        if ab:
            set_arm_b(True)
            run_once(fn)  # warm arm B too
            set_arm_b(False)
        a_times: list[float] = []
        b_times: list[float] = []
        for _ in range(rounds):
            a_times.append(run_once(fn))
            if ab:
                set_arm_b(True)
                b_times.append(run_once(fn))
                set_arm_b(False)
        msg = (
            f"{name}: A(min={min(a_times):.3f} med={statistics.median(a_times):.3f})"
        )
        if ab:
            msg += f" B(min={min(b_times):.3f} med={statistics.median(b_times):.3f})"
        print(msg, flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
