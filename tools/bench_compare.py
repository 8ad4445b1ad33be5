#!/usr/bin/env python3
"""Apply the PERF.md round-9 regression rule to two bench.json artifacts.

A key is a REGRESSION CANDIDATE when its new RAW median exceeds
shift x max(old band max, 1.5 x old median) + 0.1 s, where shift is
the run-level box shift (box state moves every key together, so the
multiplicative noise terms scale with it) while the additive term
stays in RAW seconds — scheduler jitter is a fixed cost of the box's
scheduler, not of the key, so it must not shrink when the box runs
fast (shift < 1 would otherwise cut the calibrated slack under tiny
keys' documented swing) nor inflate when it runs slow.
Calibration (PERF.md round-9 bench notes): on two identical-code runs
40 minutes apart, 35/122 keys exceed the bare band (max normalized
ratio 1.28) — the three-pass band measures WITHIN-run noise, while
per-key cross-run noise on a shared box reaches ~1.3-1.5x; the
combined rule yields zero candidates on the identical-code pair while
still catching any genuine multi-x regression. The ADDITIVE term
covers the sub-second keys, where scheduler jitter is a fixed cost
that does not shrink with key cost (a third identical-code run pushed
a ~0.1 s key to a 1.6x normalized ratio, and three isolated re-runs of
the same key swung its median 0.25-0.57 s): +0.1 s is noise-sized for
a 100 ms key yet negligible against the 1.5x term for every >0.2 s
key, and a genuine tiny-key cliff (0.1 s -> 0.5 s) still flags. The
band still tightens the gate for keys whose old band max sits above
the other two terms (wide in-run spread), and dropping below the band
min is an improvement, not a regression.

Old artifacts from before round 9 have no "passes" field; for those the
band term drops out and the 1.5x term alone applies.

The calibration keys are comparable only between artifacts of the same
"calibration_version" (an artifact without the field is version 1, the
keys as first written; version 2 made them run the work they name).
Across versions the box shift is not measured, so the gate prints why
and uses shift 1.0 — the raw gate — rather than a ratio of unlike keys
or the field-inferred shift.

A key that DISAPPEARS is as much a regression as one that slows down
(an operator silently dropped from the bench set would otherwise sail
through the gate) — but the timing comparison over the common keys is
always printed first, so a deliberate retirement still yields a full
report, and `--allow-dropped KEY[,KEY]` is the explicit override path
for it.

Usage: python3 tools/bench_compare.py [--allow-dropped KEY[,KEY]] OLD.json NEW.json
Exit 1 when any regression candidate or non-allowlisted vanished key
is found (CI-friendly).
"""
import json
import sys

CROSS_RUN_NOISE = 1.5  # measured per-key cross-run noise ceiling
ABS_SLACK = 0.1  # seconds; additive scheduler jitter on tiny keys
# Constant-work, data-independent key recorded by graft.Bench (round
# 13): its cross-run ratio measures the box-state shift DIRECTLY, so
# normalization no longer has to infer it from the key field (which a
# broad genuine regression could masquerade as). Excluded from totals
# and from regression candidacy; falls back to the field-inferred
# shift when either artifact predates it.
CAL_KEY = "calibration_fixed_work"
# the shuffle/scheduler-path twin (added r17 continuation): the box can
# drift in PARALLEL-EXCHANGE throughput while pure-CPU throughput
# improves (observed: fixed_work x0.72 with every exchange-bearing key
# x1.3-2 slower, untouched code included). When BOTH artifacts carry
# this key, its ratio normalizes the gate instead — it dominates the
# cost profile of the benched field.
CAL_SHUFFLE_KEY = "calibration_shuffle_work"
# graft.Bench's CalibrationVersion; absent in artifacts written before it
CAL_VERSION_FIELD = "calibration_version"


def load(path: str) -> dict:
    """Accept either a graft.Bench artifact or the driver's BENCH_r{N}.json
    wrapper ({"tail": ..., "parsed": {...}}); the wrapper's "parsed" is the
    Bench JSON line when the driver could parse it."""
    d = json.load(open(path))
    if "queries" not in d and isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    if "queries" not in d:
        sys.exit(f"{path}: no per-key data (neither a graft.Bench artifact "
                 "nor a driver wrapper with a parseable 'parsed' field)")
    return d


def main() -> None:
    args = sys.argv[1:]
    allow: set = set()
    rest = []
    i = 0
    while i < len(args):
        if args[i] == "--allow-dropped":
            i += 1
            if i >= len(args):
                sys.exit("--allow-dropped needs KEY[,KEY]")
            allow.update(k.strip() for k in args[i].split(",") if k.strip())
        else:
            rest.append(args[i])
        i += 1
    if len(rest) != 2:
        sys.exit(__doc__)
    old = load(rest[0])
    new = load(rest[1])
    common = sorted(set(old["queries"]) & set(new["queries"]))
    if not common:
        sys.exit("no common keys between the two artifacts")
    dropped = sorted(set(old["queries"]) - set(new["queries"]))
    added = sorted(set(new["queries"]) - set(old["queries"]))
    vanished = [k for k in dropped if k not in allow]
    if added:
        print(f"{len(added)} new key(s): {', '.join(added)}")
    if dropped:
        retired = [k for k in dropped if k in allow]
        if retired:
            print(f"{len(retired)} key(s) retired via --allow-dropped: "
                  f"{', '.join(retired)}")
        if vanished:
            print(f"{len(vanished)} key(s) VANISHED from the new artifact "
                  f"(gate fails after the report): {', '.join(vanished)}")
    # provider metadata (round 12): the streaming drive keys time
    # differently per state-store provider (PERF.md r11 table), so a
    # silent provider switch would move the bar. Warn loudly on any
    # mismatch; artifacts from before round 12 carry no field and read
    # as "unrecorded" (warned once, then the field exists everywhere).
    old_prov = old.get("provider", "unrecorded")
    new_prov = new.get("provider", "unrecorded")
    print(f"state-store provider: {old_prov} -> {new_prov}")
    if old_prov != new_prov:
        print(f"WARNING: provider changed ({old_prov} -> {new_prov}) — "
              "streaming drive timings are NOT comparable across "
              "providers; re-baseline or rerun with the old provider")
    field = [k for k in common if k not in (CAL_KEY, CAL_SHUFFLE_KEY)]
    old_total = sum(old["queries"][k] for k in field)
    new_total = sum(new["queries"][k] for k in field)
    field_shift = new_total / old_total
    print(f"common keys: {len(field)}  "
          f"totals: {old_total:.1f}s -> {new_total:.1f}s  "
          f"field-inferred shift x{field_shift:.2f}")
    # Both calibration axes, printed whenever available: the CPU key
    # and the shuffle-path key drift INDEPENDENTLY (r17: CPU x0.83
    # while the shuffle path ran x1.56), and a comparison normalized by
    # whichever one happens to exist can silently switch basis between
    # runs. Print every ratio we have, normalize by the shuffle one
    # when present (it matches the field's cost profile), and warn when
    # the two axes disagree beyond the 50% band — that is exactly the
    # asymmetric-drift regime where one single-key shift mis-scales the
    # other cost class and per-key verdicts need a manual read.
    ratios = {}
    old_ver = old.get(CAL_VERSION_FIELD, 1)
    new_ver = new.get(CAL_VERSION_FIELD, 1)
    # unlike calibration versions measure different work: no ratio
    cal_keys = (CAL_SHUFFLE_KEY, CAL_KEY) if old_ver == new_ver else ()
    for k in cal_keys:
        if (k in old["queries"] and k in new["queries"]
                and old["queries"][k] > 0 and new["queries"][k] > 0):
            ratios[k] = new["queries"][k] / old["queries"][k]
            print(f"calibration {k}: {old['queries'][k]:.2f}s -> "
                  f"{new['queries'][k]:.2f}s  x{ratios[k]:.2f}")
    if len(ratios) == 2:
        r_shuffle, r_cpu = ratios[CAL_SHUFFLE_KEY], ratios[CAL_KEY]
        if r_cpu > 0 and abs(r_shuffle / r_cpu - 1) > 0.5:
            print(f"WARNING: calibration axes disagree beyond the 50% "
                  f"band (shuffle x{r_shuffle:.2f} vs CPU x{r_cpu:.2f}) "
                  "— asymmetric box drift; the single normalization "
                  "shift below mis-scales the other cost class, read "
                  "per-key verdicts against their own class")
    cal = next((k for k in (CAL_SHUFFLE_KEY, CAL_KEY) if k in ratios),
               None)
    if cal is not None:
        shift = ratios[cal]
        print(f"measured box shift x{shift:.2f} (calibration key {cal})"
              " — used for normalization")
        # sanity clamp: the shift comes from ONE key's ratio, so a lone
        # slow pass on that key alone would scale EVERY gate with it; a
        # real box-state swing beyond 2x in either direction has never
        # been observed (PERF.md r9-r13 record 0.63-1.58), so anything
        # outside [0.5, 2.0] is a perturbed calibration sample, not the
        # box. Clamping (not falling back to the field shift, which a
        # broad genuine regression inflates to mask itself) keeps the
        # gate conservative under a bad sample.
        if not 0.5 <= shift <= 2.0:
            clamped = min(max(shift, 0.5), 2.0)
            print(f"WARNING: measured shift x{shift:.2f} outside the "
                  f"sane band [0.5, 2.0] — calibration sample suspect, "
                  f"clamped to x{clamped:.2f}")
            shift = clamped
        if shift > 0 and abs(field_shift / shift - 1) > 0.5:
            print("WARNING: field shift and measured box shift disagree "
                  "by >50% — a broad real regression (or speedup) is "
                  "moving the field, not the box")
    elif old_ver != new_ver:
        shift = 1.0
        print(f"calibration version {old_ver} -> {new_ver}: the "
              "calibration keys measure different work, so the box shift "
              "is unmeasured — using shift x1.00 (raw gate)")
    else:
        shift = field_shift
        print("no calibration key in both artifacts — "
              "normalizing by the field-inferred shift")

    candidates = []
    for k in field:
        raw = new["queries"][k]
        old_med = old["queries"][k]
        band = old.get("passes", {}).get(k)
        hi = max(band) if band else 0.0
        # multiplicative noise terms scale with the box; the additive
        # scheduler-jitter slack is box-independent and stays RAW
        gate = shift * max(hi, CROSS_RUN_NOISE * old_med) + ABS_SLACK
        if raw > gate:
            band_s = (f"band max {hi:.3f}" if band else "no band")
            candidates.append((raw / gate, k,
                               f"raw median {raw:.3f}s above gate "
                               f"{gate:.3f}s = x{shift:.2f} shift * "
                               f"max({band_s}, {CROSS_RUN_NOISE}x median "
                               f"{CROSS_RUN_NOISE * old_med:.3f}) "
                               f"+ {ABS_SLACK}"))

    if candidates:
        print(f"{len(candidates)} regression candidate(s):")
        for sev, k, why in sorted(candidates, reverse=True):
            print(f"  {k}: {why}")
    else:
        print("no regression candidates")
    if candidates or vanished:
        sys.exit(1)


if __name__ == "__main__":
    main()
