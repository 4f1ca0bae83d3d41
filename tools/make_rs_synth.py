#!/usr/bin/env python3
"""Build the synthetic RS-format fixture in src/test/resources/rs_synth/.

Three raw RobustSpot minute-series CSVs (`min,cdn,bitrate,p2p,device,value,cnt`,
FIXTURES.md section 4) plus their `anomaly.yaml` labels. Stdlib only and
seeded (random.Random(11|12|13)): rerunning it rewrites the committed files
byte for byte. Run from the repo root: python3 tools/make_rs_synth.py

The properties the fixture must keep (a raw `value` rate that rises inside
the planted cause, skewed counts, cnt = 0 rows, shuffled row order) and why
each is needed are in FIXTURES.md section 8. BatchRobustSpotSpec checks what
they are for: non-empty causes, NaN-k leaves and a scrambled knee input.
"""
import itertools
import os
import random

ATTRS = [
    ("cdn", [1, 2, 3, 4]),
    ("bitrate", [500, 1200, 2000]),
    ("p2p", [0, 1]),
    ("device", ["C1", "C2", "C3"]),
]
MINUTES = 9            # 8 history minutes plus the anomaly minute
LEAF_SHARE = 0.7       # fraction of the 72 attribute combinations present
ZERO_CNT_SHARE = 0.12  # rows with cnt = 0 (NaN k)
BASE_RATE = 0.05       # raw `value` rate outside the cause
CAUSE_RATE = 0.6       # raw `value` rate inside the cause at the anomaly minute

# (case name, seed, anomaly timestamp, planted cause)
CASES = [
    ("case1_synth", 11, 1566397800, {"bitrate": 2000, "p2p": 1}),
    ("case2_synth", 12, 1566657000, {"bitrate": 1200, "p2p": 1}),
    ("case3_synth", 13, 1566743400, {"cdn": 3}),
]

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "..", "src", "test", "resources", "rs_synth")


def make_case(seed, ts, cause):
    rng = random.Random(seed)
    names = [a for a, _ in ATTRS]
    leaves = [leaf for leaf in itertools.product(*(vals for _, vals in ATTRS))
              if rng.random() < LEAF_SHARE]
    rows = []
    for m in range(MINUTES):
        minute = ts - (MINUTES - 1 - m) * 60
        for leaf in leaves:
            in_cause = all(leaf[names.index(a)] == v for a, v in cause.items())
            rate = CAUSE_RATE if minute == ts and in_cause else BASE_RATE
            if rng.random() < ZERO_CNT_SHARE:
                cnt = 0
            else:
                cnt = int(rng.lognormvariate(3.0, 1.2)) + 1
            value = sum(rng.random() < rate for _ in range(cnt))
            rows.append((minute,) + leaf + (value, cnt))
    rng.shuffle(rows)
    header = ",".join(["min"] + names + ["value", "cnt"])
    return "\n".join([header] + [",".join(map(str, r)) for r in rows]) + "\n"


def yaml_value(v):
    return str(v) if isinstance(v, int) else f"'{v}'"


def main():
    os.makedirs(OUT, exist_ok=True)
    labels = []
    for name, seed, ts, cause in CASES:
        with open(os.path.join(OUT, f"{name}.csv"), "w", newline="") as f:
            f.write(make_case(seed, ts, cause))
        pairs = ", ".join(f"'{a}': {yaml_value(v)}" for a, v in cause.items())
        labels.append(f"- data: {name}\n  timestamp: {ts}\n  cause: {{{pairs}}}\n")
    with open(os.path.join(OUT, "anomaly.yaml"), "w", newline="") as f:
        f.write("".join(labels))


if __name__ == "__main__":
    main()
