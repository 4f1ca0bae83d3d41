#!/usr/bin/env python3
"""Dev-only golden builder: run the REFERENCE implementation over the
engine-generated synthetic corpus (src/test/resources/gen_corpus — written
by graft.gen.ReferenceCorpus, the generate_dataset.py replica), score each
file with the reference evaluation protocol, and write
fixtures/gen_corpus_golden.tsv:
  algorithm \t file \t label \t predictions(|) \t tp \t fp \t fn \t f1
This pins the reference's F1 on generator output — the reproduction path a
reference user runs (generate then localize). GenCorpusSpec asserts the
engine's per-file equality.
Run: PYTHONHASHSEED=0 python3 tools/make_gen_golden.py
"""
import os
# numpy scalar kernels — same reproducibility pin as the RS golden
os.environ.setdefault("NPY_DISABLE_CPU_FEATURES",
    "AVX512F AVX512CD AVX512_KNL AVX512_KNM AVX512_SKX AVX512_CLX AVX512_CNL AVX512_ICL")
import sys, time
import numpy as np

sys.path.insert(0, "/root/reference")
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "shims"))
for alias, typ in [("bool", bool), ("object", object), ("int", int), ("float", float)]:
    if not hasattr(np, alias):
        setattr(np, alias, typ)
import pandas as pd

from utils.run_utils import run_method, get_label
from utils.evaluation import root_cause_postprocessing, score_root_causes

HERE = os.path.dirname(os.path.abspath(__file__))
# overridable for the wide sweep recorded in GEN_SWEEP*.md
CORPUS = os.environ.get("GEN_SWEEP_CORPUS",
    os.path.join(HERE, "..", "src", "test", "resources", "gen_corpus"))
OUT = os.environ.get("GEN_SWEEP_OUT",
    os.path.join(HERE, "..", "src", "test", "resources", "fixtures", "gen_corpus_golden.tsv"))
ALGOS = os.environ.get("GEN_SWEEP_ALGOS", "")  # empty = all
# CLI defaults (utils/argument_parser.py); S-style corpora are NOT derived
ALGO_ARGS = {
    "riskloc": {"risk_threshold": 0.5, "pep_threshold": 0.02, "prune_elements": True},
    "autoroot": {"delta_threshold": 0.25},
    "r_adtributor": {"teep": 0.2, "k": 3},
    "squeeze": {"ps_upper_bound": 0.9, "max_num_elements_single_cluster": 12},
    "adtributor": {"tep": 0.1, "teep": 0.1, "k": 3},
    "robustspot": {"k": 3, "lambda_amplification": 100,
                   "contribution_ability_threshold": 0.0,
                   "confidence_threshold": 0.8},
    # stochastic MCTS: random.seed(int(file)) is set before each run so the
    # engine's MT19937 port (HotSpotParity) replays it bit-for-bit
    "hotspot": {"pt": 0.8, "m": 200, "scoring": "gps"},
}


def main():
    files = sorted(f[:-4] for f in os.listdir(CORPUS)
                   if f.endswith(".csv") and f != "injection_info.csv")
    # optional sharding for the wide sweep: GEN_SWEEP_SHARD="i/n" keeps
    # every n-th file starting at i — per-file runs are independent (hotspot
    # reseeds per file), so shards can run in parallel and be concatenated
    shard = os.environ.get("GEN_SWEEP_SHARD", "")
    if shard:
        i, n = (int(x) for x in shard.split("/"))
        files = files[i::n]
    algos = [a for a in ALGOS.split(",") if a] or list(ALGO_ARGS)
    rows = []
    for algo, algo_args in ((a, ALGO_ARGS[a]) for a in algos):
        t0 = time.time()
        for file in files:
            if algo == "hotspot":
                import random
                random.seed(int(file))
            df = pd.read_csv(os.path.join(CORPUS, file + ".csv"))
            attributes = [c for c in df.columns if c not in ("real", "predict")]
            rcs = run_method(df, [None, None], attributes, algo, dict(algo_args),
                             derived=False, debug=False)
            preds = root_cause_postprocessing(rcs, algo)
            label = get_label(CORPUS, file, rs_data=False)
            tp, fp, fn, _ = score_root_causes(preds, label)
            f1 = 2 * tp / (2 * tp + fp + fn) if (2 * tp + fp + fn) else 0.0
            rows.append((algo, file, label, "|".join(sorted(preds.tolist())),
                         tp, fp, fn, f1))
            print(f"  {algo} {file}: tp={tp} fp={fp} fn={fn} f1={f1:.3f}", flush=True)
        print(f"{algo}: {time.time()-t0:.0f}s", flush=True)
    with open(OUT, "w") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")
    print(f"wrote {OUT}: {len(rows)} rows")


if __name__ == "__main__":
    main()
