#!/usr/bin/env python3
"""Dev-only trace: run the REFERENCE squeeze on one RS case and dump
per-cluster / per-cuboid intermediates for diffing against the engine.

Usage: PYTHONHASHSEED=0 python3 tools/sq_trace_ref.py <case>
"""
import os
os.environ.setdefault("NPY_DISABLE_CPU_FEATURES",
    "AVX512F AVX512CD AVX512_KNL AVX512_KNM AVX512_SKX AVX512_CLX AVX512_CNL AVX512_ICL")
import sys
import numpy as np

sys.path.insert(0, "/root/reference")
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "shims"))
for alias, typ in [("bool", bool), ("object", object), ("int", int), ("float", float)]:
    if not hasattr(np, alias):
        setattr(np, alias, typ)

from utils.robustspot_data_utils import read_rs_dataframe
from algorithms.squeeze.squeeze import Squeeze
from algorithms.squeeze.attribute_combination import AttributeCombination as AC

case = sys.argv[1]

from algorithms.squeeze import anomaly_amount_fileter as aaf
orig_kpi = aaf.KPIFilter.__init__
def traced_kpi(self, real_array, predict_array):
    orig_kpi(self, real_array, predict_array)
    print(f"KPIFILTER n={len(real_array)} kept={len(self.original_indices)} "
          f"metmin={np.min(self.select_metrics)!r} metmax={np.max(self.select_metrics)!r}")
aaf.KPIFilter.__init__ = traced_kpi

from algorithms.squeeze import clustering as density_cluster
orig_factory = density_cluster.cluster_factory
def traced_factory(option):
    f = orig_factory(option)
    def g(array):
        cl = f(array)
        print(f"ONEDIM in={len(array)} clusters={[len(c) for c in cl]}")
        return cl
    return g
density_cluster.cluster_factory = traced_factory
import algorithms.squeeze.squeeze as sq_mod
sq_mod.cluster_factory = traced_factory

from algorithms.squeeze.clustering.density_cluster import DensityBased1dCluster
from scipy.signal import argrelextrema as _are

orig_hist = DensityBased1dCluster._histogram
def traced_hist(self, array):
    h, bins = orig_hist(self, array)
    edges = np.histogram_bin_edges(array, 'auto').tolist()
    print(f"EDGES {[e.hex() for e in edges]}")
    print(f"RAWH {[v.hex() for v in h]}")
    return h, bins
DensityBased1dCluster._histogram = traced_hist
orig_dcluster = DensityBased1dCluster._cluster
def traced_dcluster(self, array, density_array, bins, plot=False):
    mx = _are(density_array, comparator=lambda x, y: x > y, axis=0, order=1, mode='wrap')[0]
    mn = _are(density_array, comparator=lambda x, y: x <= y, axis=0, order=1, mode='wrap')[0]
    mx = list(filter(lambda x: density_array[x] > 0, mx))
    print(f"DCLUSTER nbins={len(bins)} maxidx={list(mx)} minidx={mn.tolist()}")
    print(f"  DENS {[d.hex() for d in density_array]}")
    print(f"  BINS {[b.hex() for b in bins]}")
    bounds = [float('-inf')] + [bins[i] for i in mn] + [float('inf')]
    for index in mx:
        lb = bounds[np.searchsorted(bounds, bins[index], side='right') - 1]
        rb = bounds[np.searchsorted(bounds, bins[index], side='left')]
        sel = array[(array >= lb) & (array <= rb)]
        mu = np.mean(np.abs(sel)) if len(sel) else float('nan')
        print(f"  MAX idx={index} bin={bins[index]!r} lb={lb!r} rb={rb!r} n={len(sel)} mu={mu!r}")
    return orig_dcluster(self, array, density_array, bins, plot)
DensityBased1dCluster._cluster = traced_dcluster

orig_cuboid = Squeeze._locate_in_cuboid
def traced_cuboid(self, cuboid, indices, **params):
    rc, score = orig_cuboid(self, cuboid, indices, **params)
    print(f"  CUBOID {','.join(cuboid)} n_rc={len(rc)} score={score!r} "
          f"rc={AC.batch_to_string(rc)}")
    return rc, score
Squeeze._locate_in_cuboid = traced_cuboid

orig_lrc = Squeeze.locate_root_cause
def traced_lrc(self):
    ab = np.sort(np.concatenate(self.cluster_list))
    idx = np.argsort(np.abs(self.leaf_deviation_score[ab]))
    thr = self.leaf_deviation_score[ab[idx][0]]
    print(f"NORMAL thr={thr!r} n_normal={len(self.normal_indices)} n_abn={len(ab)}")
    return orig_lrc(self)
Squeeze.locate_root_cause = traced_lrc

orig_cluster = Squeeze._locate_in_cluster
def traced_cluster(self, indices):
    print(f"CLUSTER n={len(indices)} "
          f"devmin={np.min(self.leaf_deviation_score[indices])!r} "
          f"devmax={np.max(self.leaf_deviation_score[indices])!r}")
    r = orig_cluster(self, indices)
    if self._root_cause:
        print(f"  PICK {AC.batch_to_string(sorted(self._root_cause[-1]))}")
    return r
Squeeze._locate_in_cluster = traced_cluster

df, attributes, df_a, df_b = read_rs_dataframe("/root/reference/data/RS", case)
from utils.run_utils import run_method
rcs = run_method(df, [df_a, df_b], attributes, "squeeze",
                 {"ps_upper_bound": 0.9, "max_num_elements_single_cluster": 12},
                 derived=True, debug=False)
print("FINAL:")
for rc in rcs:
    print("  ", rc)
