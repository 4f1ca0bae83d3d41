#!/usr/bin/env python3
"""Dev-only trace: run the REFERENCE robustspot on one RS case and dump
per-round intermediates (knee threshold, expand size, mode itemsets,
top-5 mining causes, final merge_res with support deltas) for diffing
against the Scala engine's intermediates.

Usage: PYTHONHASHSEED=0 python3 tools/rs_trace_ref.py <case>
"""
import os
# Pin numpy to its scalar kernels: with AVX512 present, np.argsort
# (kind='quicksort') dispatches to x86-simd-sort and resolves ties in a
# DIFFERENT order than the portable scalar introsort — the reference's
# output would differ between machines. Goldens are defined against the
# scalar path (alongside PYTHONHASHSEED=0).
os.environ.setdefault("NPY_DISABLE_CPU_FEATURES",
    "AVX512F AVX512CD AVX512_KNL AVX512_KNM AVX512_SKX AVX512_CLX AVX512_CNL AVX512_ICL")
import os, sys
import numpy as np

sys.path.insert(0, "/root/reference")
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "shims"))
for alias, typ in [("bool", bool), ("object", object), ("int", int), ("float", float)]:
    if not hasattr(np, alias):
        setattr(np, alias, typ)

from utils.robustspot_data_utils import read_rs_dataframe
import algorithms.robustspot.config.global_data as g_data
import algorithms.robustspot.mining as mining_mod
import algorithms.robustspot.select_expand as se_mod
import algorithms.robustspot.robustspot as rs_mod

case = sys.argv[1]

# instrument mining: record top-5 + the full support-delta table per round
orig_mining = mining_mod.mining
def traced_mining(iter_index, confidence_threshold=0.8):
    orig_mining(iter_index, confidence_threshold)
    exp = g_data.expand_df_list[iter_index]
    print(f"ROUND {iter_index}: expand_rows={exp.shape[0]} "
          f"before_rows={g_data.before_df_list[iter_index].shape[0]} "
          f"after_rows={g_data.after_df_list[iter_index].shape[0]}")
    if exp.shape[0]:
        modes = {c: exp[c].mode().values[0] for c in exp.columns}
        print(f"  modes: {sorted(modes.items())}")
    for c in g_data.mining_root_cause[iter_index]:
        print(f"  top5: {c}")
mining_mod.mining = traced_mining
rs_mod.mining = mining_mod  # module alias already shared

# instrument KneeLocator: print the x vector actually handed over + the knee
import kneed
orig_kl = se_mod.KneeLocator
class TracedKL:
    def __init__(self, x, y, **kw):
        issorted = all(x[i] <= x[i+1] for i in range(len(x)-1))
        self._kl = orig_kl(x, y, **kw)
        print(f"  KNEE: n={len(x)} sorted={issorted} knee={self._kl.knee}")
        if not issorted:
            print(f"    x={x}")
    @property
    def knee(self):
        return self._kl.knee
se_mod.KneeLocator = TracedKL

df, attributes, df_a, df_b = read_rs_dataframe("/root/reference/data/RS", case)
from utils.run_utils import run_method
rcs = run_method(df, [df_a, df_b], attributes, "robustspot",
                 {"k": 3, "lambda_amplification": 100,
                  "contribution_ability_threshold": 0.0,
                  "confidence_threshold": 0.8}, derived=True, debug=False)
print("FINAL:")
for rc in rcs:
    print("  ", rc)
