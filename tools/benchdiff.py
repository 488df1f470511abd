#!/usr/bin/env python3
"""Compare two BENCH_DETAIL.json files key by key.

Usage: python3 tools/benchdiff.py <old.json> <new.json> [ratio] [abs_s]

Prints per-query regressions (new_min > ratio * old_min AND the delta
exceeds abs_s seconds — both gates, so scheduling-floor noise on fast
keys doesn't flag), improvements of the same magnitude, and keys added/
removed. Defaults match the judge's r8 criterion: ratio 1.3, abs 0.15s.

Reads either the `queries` (scalar seconds) or `queries_min_max`
([min, max]) layout, so older round artifacts diff cleanly against new
ones. The diff is over raw mins only: any other per-key field a record
carries, such as the heat-normalized mins of r16-r18 runs, is ignored.
"""
import json
import sys


def mins(detail: dict) -> dict:
    if "queries_min_max" in detail:
        return {k: v[0] for k, v in detail["queries_min_max"].items()}
    q = detail.get("queries", {})
    return {k: (v[0] if isinstance(v, list) else v) for k, v in q.items()}


def main(old_path: str, new_path: str, ratio: float, abs_s: float) -> int:
    old, new = (json.load(open(p)) for p in (old_path, new_path))
    om, nm = mins(old), mins(new)
    # a failed key carries min -1: collect explicitly so it is neither
    # diffed nor reported as added/removed
    failed = sorted({k for k, v in om.items() if v < 0}
                    | {k for k, v in nm.items() if v < 0})
    if failed:
        print(f"FAILED keys ({len(failed)}; excluded from diff): "
              + ", ".join(failed))
    om = {k: v for k, v in om.items() if v >= 0}
    nm = {k: v for k, v in nm.items() if v >= 0}
    print("mode: raw mins — contended-host deltas need the "
          "uniform-shift caveat")
    for label, d in (("old", old), ("new", new)):
        n = len(mins(d))
        print(f"{label}: total {d.get('value')}s over {n} keys "
              f"(cal {d.get('cal')}, cal_max {d.get('cal_max')}, "
              f"run_contended {d.get('run_contended')})")
    added = sorted(set(nm) - set(om))
    removed = sorted(set(om) - set(nm))
    if added:
        print(f"added ({len(added)}): "
              + ", ".join(f"{k}={nm[k]:.2f}s" for k in added))
    if removed:
        print(f"removed ({len(removed)}): " + ", ".join(removed))
    # keys whose number is by design a warm-cache marginal cost (session-
    # shared input frame, e.g. dedup_keep_best since r9, or ANALYZE stats
    # computed once per session, e.g. cbo_join_reorder): a diff against a
    # pre-memoization round shows a large "improvement" that is a
    # semantics change, not an engine speedup — annotate, don't celebrate
    warm = set(old.get("warm_cache_keys", [])) | set(new.get("warm_cache_keys", []))
    contended = set(new.get("contended_keys", []))

    def tags(k: str) -> str:
        t = []
        if k in warm:
            t.append("warm-cache key: marginal cost, not engine speed")
        if k in contended:
            t.append("had contended samples in new run")
        return f"  [{'; '.join(t)}]" if t else ""

    regs, imps = [], []
    for k in sorted(set(om) & set(nm)):
        o, n = om[k], nm[k]
        if n > o * ratio and n - o > abs_s:
            regs.append((n - o, k, o, n))
        elif o > n * ratio and o - n > abs_s:
            imps.append((o - n, k, o, n))
    for delta, k, o, n in sorted(regs, reverse=True):
        print(f"REGRESSION {k}: {o:.2f}s -> {n:.2f}s (+{delta:.2f}){tags(k)}")
    for delta, k, o, n in sorted(imps, reverse=True):
        print(f"improved   {k}: {o:.2f}s -> {n:.2f}s (-{delta:.2f}){tags(k)}")
    if new.get("contended_samples"):
        print(f"new-run contention ledger: {new['contended_samples']} samples "
              f"in dirty in-pass segments across {len(contended)} keys "
              f"(probe_every={new.get('probe_every')})")
    print(f"regressions: {len(regs)}, improvements: {len(imps)}, "
          f"compared: {len(set(om) & set(nm))}")
    return 1 if regs else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2],
                  float(sys.argv[3]) if len(sys.argv) > 3 else 1.3,
                  float(sys.argv[4]) if len(sys.argv) > 4 else 0.15))
