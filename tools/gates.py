#!/usr/bin/env python3
"""Regenerate the NOTES.md round-gate block from committed artifacts, so
final-round claims always match what a judge reproduces (round-10 lesson:
NOTES said "551 tests / slow_4x=2" while the artifacts said 547 / 19).

Usage:
    python tools/gates.py CORRECTNESS_rN.json BENCH_rN.json [sbt_test.log]

Prints a markdown bullet block derived ONLY from the named artifacts —
paste it into NOTES.md verbatim. The sbt log is optional; when given, the
test count is parsed from its final "Tests: succeeded N" line.
"""
import json
import re
import sys


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    correctness_path, bench_path = sys.argv[1], sys.argv[2]
    sbt_log = sys.argv[3] if len(sys.argv) > 3 else None

    with open(correctness_path) as f:
        corr = json.load(f)
    ok = sum(
        1 for v in corr.values()
        if v.get("rows_match") and v.get("schema_match") and v.get("hash_match")
        and not v.get("err")
    )
    total = len(corr)

    with open(bench_path) as f:
        bench = json.load(f)
    # the driver's BENCH_rN.json wraps the bench's stdout line in a "tail"
    # string — unwrap it; BENCH_DETAIL.json / raw stdout parse directly
    if "tail" in bench and "metric" not in bench:
        tail = bench["tail"]
        i = tail.rfind('{"metric"')
        if i < 0:
            print("no metric line inside the tail wrapper", file=sys.stderr)
            return 2
        bench = json.loads(tail[i:].strip().splitlines()[0])
    if "value" not in bench and "total_sec" in bench:  # BENCH_DETAIL shape
        bench["value"] = bench["total_sec"]
        failed_names = set(bench.get("failed") or [])
        bench["failed"] = len(failed_names)
        slow4 = bench.get("slow_4x") or []
        # slow_n is WARM-gated (r13 finding #3): a cold-flagged query only
        # counts once its controlled warm re-run also breaks the budget.
        # Newer BENCH_DETAILs carry slow_n directly; reconstruct for older
        # ones (warm_ms missing/negative => conservatively flagged).
        if "slow_n" not in bench:
            med = bench.get("median_ms") or 0
            bench["slow_n"] = sum(
                1 for s in slow4
                if not isinstance(s.get("warm_ms"), (int, float))
                or s["warm_ms"] < 0 or (med and s["warm_ms"] > 4.0 * med)
            )
        bench.setdefault("cold_flagged_n", len(slow4))
        bench.setdefault("slow", slow4)
        # PASSING queries only, matching Bench.scala's own percentile
        # math — failed queries report ~0 ms and would deflate the tail
        times = sorted(v for k, v in (bench.get("queries_ms") or {}).items()
                       if k not in failed_names)
        if times:  # nearest-rank percentiles, matching the bench's own math
            import math
            def pct(p):
                return times[max(0, min(len(times) - 1,
                                        math.ceil(p * len(times)) - 1))]
            bench.setdefault("p90_ms", pct(0.90))
            bench.setdefault("p99_ms", pct(0.99))

    tests_line = "tests: (no sbt log given)"
    if sbt_log:
        text = open(sbt_log, errors="replace").read()
        m = re.findall(r"Tests: succeeded (\d+), failed (\d+)", text)
        if m:
            succ, failed = m[-1]
            tests_line = f"**{succ} tests green** ({failed} failed)"
        else:
            tests_line = "tests: (no 'Tests: succeeded' line in log)"

    streaming = bench.get("streaming") or {}

    def rps(name):
        blk = streaming.get(name) or {}
        v = blk.get("rows_per_sec")
        return f"{v/1000:.1f}k" if isinstance(v, (int, float)) else "n/a"

    slow = bench.get("slow") or []
    slow_lines = []
    for s in slow:
        builds = s.get("builds") or {}
        charges = " + ".join(f"{k} {v} ms" for k, v in builds.items()) or "no builds"
        cold = s.get("ms", s.get("cold_ms", "?"))
        slow_lines.append(
            f"    - {s['q']}: cold {cold} ms = construct {s.get('construct_ms', '?')}"
            f" + [{charges}] + warm {s.get('warm_ms', '?')} ms"
            f" + codegen {s.get('codegen_ms', '?')} ms"
        )

    print(f"- **GATES (artifact-derived; tools/gates.py over {correctness_path}, "
          f"{bench_path}{', ' + sbt_log if sbt_log else ''})**:")
    print(f"  - oracle: **{ok}/{total} green** ({correctness_path})")
    print(f"  - {tests_line}")
    # optional fields: older artifacts carry codegen_ms_estimate, newer
    # ones codegen_measured_total_ms; print whichever is there, never None
    codegen = ""
    if bench.get("codegen_ms_estimate") is not None:
        codegen = f"codegen est {bench['codegen_ms_estimate']} ms, "
    elif bench.get("codegen_measured_total_ms") is not None:
        codegen = f"codegen measured {bench['codegen_measured_total_ms']} ms, "
    print(f"  - bench ({bench.get('sf')}, cache-invalidated, {bench.get('action')}): "
          f"**{bench.get('n')} queries / {bench.get('failed')} failed / "
          f"median {bench.get('median_ms')} ms / total {bench.get('value')} s**; "
          f"p90 {bench.get('p90_ms', 'n/a')} ms, p99 {bench.get('p99_ms', 'n/a')} ms, "
          f"slow_n={bench.get('slow_n')} (warm-gated; cold-flagged "
          f"{bench.get('cold_flagged_n', 'n/a')}), "
          f"{codegen}"
          f"calibration {bench.get('calibration_ms', 'n/a')} ms "
          f"(divide cross-round ratios by the calibration ratio before "
          f"calling a delta a regression)")
    shared = bench.get("shared_build_ms") or {}
    if shared:
        print("  - shared builds (cold, standalone): "
              + ", ".join(f"{k} {v} ms" for k, v in shared.items()))
    if slow_lines:
        print("  - slow_4x decomposition (cold = construct + builds + warm):")
        print("\n".join(slow_lines))
    if streaming:
        print(f"  - streaming ({streaming.get('state_provider', 'default')}): "
              f"burst {rps('burst')}, sustained {rps('sustained')}, "
              f"single_group {rps('single_group')}, rate_limited {rps('rate_limited')}, "
              f"interval_join {rps('interval_join')} "
              f"(rocksdb {rps('interval_join_rocksdb')}, p8 {rps('interval_join_p8')}, "
              f"auto[w{(streaming.get('interval_join_auto') or {}).get('width', '?')}] "
              f"{rps('interval_join_auto')}) rows/s; "
              f"asof_bounded {rps('asof_bounded')} "
              f"(p8 {rps('asof_bounded_p8')}, "
              f"auto[w{(streaming.get('asof_bounded_auto') or {}).get('width', '?')}] "
              f"{rps('asof_bounded_auto')}) rows/s; "
              f"drain {((streaming.get('drain') or {}).get('drain_sec', 'n/a'))} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
