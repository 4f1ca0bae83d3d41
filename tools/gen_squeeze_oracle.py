#!/usr/bin/env python3
"""Generate the q44_squeeze / q48_batch_squeeze DuckDB oracle SQL.

Squeeze (reference algorithms/squeeze/; graft algorithms/Squeeze.scala)
in SQL, two stages mirroring the engine's driver/executor split:

Stage A — the driver-side scalar kernels, as per-instance LIST lambdas so
floating-point association matches the Scala kernels where decisions are
ulp-sensitive (list_reduce folds left-to-right = the kernels' ascending
sequential sums):
  - KPI filter: Scott gaussian KDE over |real-predict|, CDF on the
    1000-point linspace, Kneedle knee (interp1d path — pure window
    arithmetic, no polyfit), keep metrics > knee.
  - Histogram density clustering: numpy auto bin edges (FD/Sturges with
    the exact percentile interpolation), 5 right-pad bins (the
    reference's left pad is a no-op), density h/100, windowed smoothing
    (ascending sequential — see CAVEATS), wrap-mode strict extrema,
    boundary search, member intervals filtered by mean |deviation| >=
    max_normal_deviation.
  - Normal threshold (the reference's signed-vs-|.| comparison quirk),
    auto score weight.

Stage B — the per-cluster cuboid search, relational: exact-tuple element
stats per (cluster, cuboid), descent ordering, prefix partition sweep
with the ps score (divide-guard semantics), best partition per cuboid
(NaN first, then score DESC, then larger p), the ps_upper_bound layer
early-stop, best rank per cluster (NaN rank loses), set-dedup across
clusters, canonical prediction strings.

CAVEATS (documented equivalence envelope, verified at the gate inputs
and probes; violations surface as visible oracle MISMATCHES, never as
silent agreement):
  - numpy argsort tie permutations are mirrored in their stable
    insertion-sort regime (arrays <= 16; maxNumElements=12 keeps the
    partition argsort there always). The element-descent argsort is
    stable only while a cuboid's abnormal element count stays <= 16 —
    since round 13 this precondition is CHECKED at oracle run time: the
    emitted SQL carries an `envguard` CTE that raises a DuckDB error()
    when any cuboid exceeds 16 abnormal elements, so an
    out-of-envelope input fails the gate loudly instead of relying on
    the mismatch-surfacing argument.
  - The smoothing window sum replicates numpy small_correlate
    (ascending sequential) — exact for window <= 11; the OpenBLAS
    ddot tree used above that is not replicated.
  - Compound (multi-element) root-cause strings join ';' in sorted
    label order; the engine uses CPython frozenset iteration order
    (PyHash). Exact for single-element root causes (all gate inputs).
  - DuckDB aggregate sums replace the engine's ExactSum masses: the
    reference's bitwise cross-cuboid rank ties are preserved only up
    to last-ulp noise.

Emits src/main/resources/graft/oracles/{q44_squeeze,q48_batch_squeeze}.sql.
Driver-side tooling only; cross-check with tools/run_probes.sh
(runner.OracleProbe + tools/check_squeeze_probe.py).
"""
import re
import sys

MURMUR_IMPORT = "tools/gen_riskloc_oracle.py"  # shared macro block

L1 = [(0, ["brand"]), (1, ["ls"]), (2, ["rf"])]
DEEP = [(3, ["brand", "ls"]), (4, ["brand", "rf"]), (5, ["ls", "rf"]),
        (6, ["brand", "ls", "rf"])]
ALL = L1 + DEEP


def murmur_block():
    src = open(MURMUR_IMPORT).read()
    m = re.search(r'MURMUR = """\\\n(.*?)"""', src, re.S)
    return m.group(1)


def tuple_branch(cid, attrs, src):
    vs = [f"{a} AS v{j+1}" for j, a in enumerate(attrs)]
    vs += [f"'' AS v{j+1}" for j in range(len(attrs), 3)]
    return f"  SELECT {cid} AS cid, {', '.join(vs)}, r.* FROM {src} r"


STAGE_A = """\
-- ============ stage A: driver-kernel scalars as list lambdas ============
-- predict>0 validity filter, negative-real shift, squeeze deviation
-- (f-v)/(f+v) with 0/0 -> 0 (no factor 2), |v-f| metric
f0 AS MATERIALIZED (SELECT iid, rf, ls, brand, vr, vp FROM anom WHERE vp > 0),
shift AS MATERIALIZED (SELECT iid, min(vr) AS mn FROM f0 GROUP BY iid),
rows0 AS MATERIALIZED (
  SELECT f.iid, f.rf, f.ls, f.brand,
         CASE WHEN s.mn < 0 THEN f.vr - s.mn ELSE f.vr END AS v,
         f.vp AS fp,
         CASE WHEN f.vp + (CASE WHEN s.mn < 0 THEN f.vr - s.mn ELSE f.vr END) = 0 THEN 0.0
              ELSE (f.vp - (CASE WHEN s.mn < 0 THEN f.vr - s.mn ELSE f.vr END))
                 / (f.vp + (CASE WHEN s.mn < 0 THEN f.vr - s.mn ELSE f.vr END)) END AS dev,
         abs((CASE WHEN s.mn < 0 THEN f.vr - s.mn ELSE f.vr END) - f.vp) AS met
  FROM f0 f JOIN shift s ON f.iid = s.iid),
cards AS MATERIALIZED (
  SELECT iid,
         (count(DISTINCT brand) + count(DISTINCT ls) + count(DISTINCT rf))::DOUBLE AS numattr,
         count(*) AS nleaves
  FROM rows0 GROUP BY iid),
-- per-instance vectors in the engine's (deviation, metric) pair order
lists AS MATERIALIZED (
  SELECT iid, list(dev ORDER BY dev, met) AS devs, list(met ORDER BY dev, met) AS mets
  FROM rows0 GROUP BY iid),
-- Scott gaussian KDE over the metrics (anomaly_amount_fileter.py:12-16):
-- sequential mean / ddof-1 variance in list order, like the Scala kernel
kde1 AS MATERIALIZED (
  SELECT iid, devs, mets, len(mets) AS n,
         list_reduce(mets, (a, b) -> a + b) / len(mets) AS kmu,
         list_reduce(mets, (a, b) -> least(a, b)) AS mmin,
         list_reduce(mets, (a, b) -> greatest(a, b)) AS mmax
  FROM lists),
kde2 AS MATERIALIZED (
  SELECT *,
         CASE WHEN n > 1 THEN
           list_reduce(list_transform(mets, x -> (x - kmu) * (x - kmu)),
                       (a, b) -> a + b) / (n - 1)
           * pow(n::DOUBLE, -0.2) * pow(n::DOUBLE, -0.2)
         ELSE 0.0 END AS cov
  FROM kde1),
-- KDE-CDF on linspace(min met, max met, 1000); cumulative window sum
-- (the scanLeft cumsum — decision margins here are far above ulp)
kgrid AS MATERIALIZED (
  SELECT k.iid, g.i,
         CASE WHEN g.i = 999 THEN k.mmax
              ELSE k.mmin + g.i * ((k.mmax - k.mmin) / 999.0) END AS x
  FROM kde2 k CROSS JOIN (SELECT unnest(range(1000)) AS i) g
  WHERE k.mmax > k.mmin AND k.cov > 0),
kdens AS MATERIALIZED (
  SELECT g.iid, g.i, g.x,
         list_reduce(list_transform(k.mets,
             d -> exp(-((d - g.x) * (d - g.x)) * (1.0 / (2.0 * k.cov)))),
           (a, b) -> a + b) / (sqrt(2.0 * pi() * k.cov) * k.n) AS dens
  FROM kgrid g JOIN kde2 k ON g.iid = k.iid),
kcdf AS MATERIALIZED (
  SELECT iid, i, x, dens,
         sum(dens) OVER (PARTITION BY iid ORDER BY i) AS cdf
  FROM kdens),
-- Kneedle (Kernels.kneedle, interp path): normalize, difference curve,
-- clip-mode >= / <= extrema (borders CAN qualify), threshold scan
knorm AS MATERIALIZED (
  SELECT iid, min(x) AS x0, max(x) AS x1, min(cdf) AS y0, max(cdf) AS y1
  FROM kcdf GROUP BY iid HAVING max(cdf) > min(cdf)),
kyd AS MATERIALIZED (
  SELECT c.iid, c.i,  c.x,
         (c.x - n.x0) / (n.x1 - n.x0) AS xn,
         (c.cdf - n.y0) / (n.y1 - n.y0) - (c.x - n.x0) / (n.x1 - n.x0) AS yd
  FROM kcdf c JOIN knorm n ON c.iid = n.iid),
kflag AS MATERIALIZED (
  SELECT iid, i, x, xn, yd,
         (yd >= coalesce(lag(yd) OVER w, yd)) AND (yd >= coalesce(lead(yd) OVER w, yd)) AS ismax,
         (yd <= coalesce(lag(yd) OVER w, yd)) AND (yd <= coalesce(lead(yd) OVER w, yd)) AS ismin,
         lead(yd) OVER w AS ydnext
  FROM kyd WINDOW w AS (PARTITION BY iid ORDER BY i)),
kmeandx AS MATERIALIZED (
  SELECT iid, abs(sum(d) / count(*)) AS meandx FROM (
    SELECT iid, xn - lag(xn) OVER (PARTITION BY iid ORDER BY i) AS d FROM kflag)
  WHERE d IS NOT NULL GROUP BY iid),
kscan AS MATERIALIZED (
  SELECT f.iid, f.i, f.x, f.yd, f.ydnext, f.ismax,
         last_value(CASE WHEN f.ismax AND f.ismin THEN 0.0
                         WHEN f.ismax THEN f.yd - m.meandx
                         WHEN f.ismin THEN 0.0 END IGNORE NULLS)
           OVER (PARTITION BY f.iid ORDER BY f.i) AS thr,
         last_value(CASE WHEN f.ismax THEN f.x END IGNORE NULLS)
           OVER (PARTITION BY f.iid ORDER BY f.i) AS thrx,
         min(CASE WHEN f.ismax THEN f.i END) OVER (PARTITION BY f.iid) AS firstmax
  FROM kflag f JOIN kmeandx m ON f.iid = m.iid),
kneeq AS MATERIALIZED (
  SELECT iid, thrx AS knee FROM (
    SELECT iid, thrx,
           row_number() OVER (PARTITION BY iid ORDER BY i) AS rn
    FROM kscan
    WHERE i >= firstmax AND i < 999 AND ydnext < thr AND thrx IS NOT NULL)
  WHERE rn = 1),
-- knee fallback: no knee (or degenerate KDE input) -> metrics.min
knee AS MATERIALIZED (
  SELECT l.iid, coalesce(k.knee, d.mmin) AS knee
  FROM lists l
  JOIN kde2 d ON l.iid = d.iid
  LEFT JOIN kneeq k ON l.iid = k.iid),
-- filtered deviations (metric > knee), ascending (list_filter keeps order)
fdev AS MATERIALIZED (
  SELECT l.iid,
         list_filter(l.devs, (x, j) -> l.mets[j] > k.knee) AS fdevs
  FROM lists l JOIN knee k ON l.iid = k.iid),
-- numpy auto bin edges over the filtered deviations
-- (Kernels.histogramBinEdgesAuto: FD/Sturges, linspace rounding, +5 pad)
hedge AS MATERIALIZED (
  SELECT iid, fdevs, fn, fmin, fmax, ptp,
         CASE WHEN ptp = 0 THEN [fmin - 0.5, fmin + 0.5]
              ELSE list_transform(range(nbins + 1),
                i -> CASE WHEN i = nbins THEN fmax ELSE i * (ptp / nbins) + fmin END)
         END AS base_edges
  FROM (
    SELECT iid, fdevs, fn, fmin, fmax, ptp,
           CASE WHEN ptp = 0 THEN 1
                ELSE least(1048576, greatest(1,
                  ceil(ptp / (CASE WHEN fd > 0 THEN least(fd, sturges) ELSE sturges END))::BIGINT))
           END AS nbins
    FROM (
      SELECT iid, fdevs, fn, fmin, fmax, ptp,
             2.0 * (pctl(fdevs, fn, 75.0) - pctl(fdevs, fn, 25.0)) / cbrt(fn::DOUBLE) AS fd,
             ptp / (log2(fn::DOUBLE) + 1.0) AS sturges
      FROM (
        SELECT iid, fdevs, len(fdevs) AS fn,
               fdevs[1] AS fmin, fdevs[len(fdevs)] AS fmax,
               fdevs[len(fdevs)] - fdevs[1] AS ptp
        FROM fdev WHERE len(fdevs) > 0)))),
hpad AS MATERIALIZED (
  SELECT iid, fdevs, fn,
         list_concat(base_edges,
           list_transform(range(1, 6),
             i -> base_edges[len(base_edges)] + 0.1 * i)) AS edges
  FROM hedge),
-- histogram density (searchsorted-right bins, last bin right-closed),
-- h = count/width/n/100; bin centers
hh AS MATERIALIZED (
  SELECT iid, fdevs, fn, edges, nb,
         list_transform(range(nb), i ->
           len(list_filter(fdevs, x ->
             x >= edges[i + 1]
             AND (x < edges[i + 2] OR (i = nb - 1 AND x = edges[nb + 1]))))::DOUBLE
           / (edges[i + 2] - edges[i + 1]) / fn / 100.0) AS h,
         list_transform(range(nb), i -> (edges[i + 1] + edges[i + 2]) / 2.0) AS bins
  FROM (SELECT *, len(edges) - 1 AS nb FROM hpad)),
-- auto window + ascending-sequential smoothing (numpy small_correlate)
hsm AS MATERIALIZED (
  SELECT iid, fdevs, fn, edges, nb, h, bins, w,
         list_transform(range(nb), i ->
           CASE WHEN i < w - 1 THEN h[i + 1]
                ELSE list_reduce(h[i - w + 2 : i + 1], (a, b) -> a + b) / w END) AS sm
  FROM (SELECT *, greatest(len(list_filter(h, x -> x > 0)) // 10, 1) AS w FROM hh)),
-- wrap-mode strict extrema on the smoothed density
hext AS MATERIALIZED (
  SELECT iid, fdevs, fn, bins, sm,
         list_filter(range(nb), i ->
           sm[i + 1] > sm[((i + 1) % nb) + 1] AND sm[i + 1] > sm[((i - 1 + nb) % nb) + 1]
           AND sm[i + 1] > 0) AS maxidx,
         list_filter(range(nb), i ->
           sm[i + 1] <= sm[((i + 1) % nb) + 1] AND sm[i + 1] <= sm[((i - 1 + nb) % nb) + 1]) AS minidx
  FROM hsm),
hbnd AS MATERIALIZED (
  SELECT iid, fdevs, fn, bins, sm, maxidx,
         list_concat(['-infinity'::DOUBLE],
           list_concat(list_transform(minidx, i -> bins[i + 1]), ['infinity'::DOUBLE])) AS bnds
  FROM hext),
-- cluster intervals: member [min, max] per max bin between its
-- boundaries (searchsorted: last boundary <= center, first >= center),
-- kept when mean |member| >= max_normal_deviation (0.2); cluster order =
-- max-bin index order of the kept intervals
hmaxu AS MATERIALIZED (
  SELECT iid, unnest(maxidx) AS mi FROM hbnd),
ivraw AS MATERIALIZED (
  SELECT m.iid, m.mi,
         list_filter(h.fdevs, d ->
           d >= list_reduce(list_filter(h.bnds, b -> b <= h.bins[m.mi + 1]),
                            (a, b) -> greatest(a, b))
           AND d <= list_reduce(list_filter(h.bnds, b -> b >= h.bins[m.mi + 1]),
                                (a, b) -> least(a, b))) AS mem
  FROM hmaxu m JOIN hbnd h ON m.iid = h.iid)"""


STAGE_B_HEAD = """\
-- ============ stage B: per-cluster cuboid search, relational ============
clus AS MATERIALIZED (
  SELECT iid, row_number() OVER (PARTITION BY iid ORDER BY mi) AS k,
         mem[1] AS lo, mem[len(mem)] AS hi
  FROM ivraw
  WHERE len(mem) > 0
    AND abs(list_reduce(list_transform(mem, x -> abs(x)), (a, b) -> a + b)
            / len(mem)) >= 0.2),
-- interval re-expansion sizes over ALL leaves; normal threshold (signed
-- RHS quirk: |d|-ties resolve to the smaller signed value)
csize AS MATERIALIZED (
  SELECT c.iid, c.k, count(*) FILTER (WHERE r.dev >= c.lo AND r.dev <= c.hi) AS z
  FROM clus c JOIN rows0 r ON r.iid = c.iid
  GROUP BY c.iid, c.k),
nthr AS MATERIALIZED (
  SELECT iid, dev AS thr FROM (
    SELECT r.iid, r.dev,
           row_number() OVER (PARTITION BY r.iid ORDER BY abs(r.dev), r.dev) AS rn
    FROM rows0 r
    WHERE EXISTS (SELECT 1 FROM clus c
                  WHERE c.iid = r.iid AND r.dev >= c.lo AND r.dev <= c.hi))
  WHERE rn = 1),
-- auto score weight (squeeze.py:281-300 revised formula)
weight AS MATERIALIZED (
  SELECT s.iid,
         (ln(s.nc + 1.0) / s.nc)
         * (d.numattr / ln(d.numattr + 1.0))
         * (-ln(s.zsum / d.nleaves)) AS w
  FROM (SELECT c.iid, count(*)::DOUBLE AS nc, sum(z.z)::DOUBLE AS zsum
        FROM clus c JOIN csize z ON c.iid = z.iid AND c.k = z.k
        GROUP BY c.iid) s
  JOIN cards d ON s.iid = d.iid),
-- subset (cluster ∪ normal) totals per cluster
subtot AS MATERIALIZED (
  SELECT c.iid, c.k,
         count(*) AS nsub,
         sum(abs(r.v - r.fp)) AS l1sub
  FROM clus c
  JOIN nthr t ON c.iid = t.iid
  JOIN rows0 r ON r.iid = c.iid
   AND ((r.dev >= c.lo AND r.dev <= c.hi) OR abs(r.dev) < t.thr)
  GROUP BY c.iid, c.k),"""


STAGE_B_TAIL = """\
-- per-(cluster, cuboid, element) stats; exact-tuple matching throughout
gstat AS MATERIALIZED (
  SELECT e.iid, c.k, e.cid, e.v1, e.v2, e.v3,
         count(*) FILTER (WHERE e.dev >= c.lo AND e.dev <= c.hi) AS n_abn,
         count(*) AS n_all,
         count(*) FILTER (WHERE (e.dev >= c.lo AND e.dev <= c.hi) OR abs(e.dev) < t.thr) AS n_sub,
         sum(CASE WHEN (e.dev >= c.lo AND e.dev <= c.hi) OR abs(e.dev) < t.thr
                  THEN e.v ELSE 0 END) AS sv_sub,
         sum(CASE WHEN (e.dev >= c.lo AND e.dev <= c.hi) OR abs(e.dev) < t.thr
                  THEN e.fp ELSE 0 END) AS sf_sub,
         sum(CASE WHEN (e.dev >= c.lo AND e.dev <= c.hi) OR abs(e.dev) < t.thr
                  THEN abs(e.v - e.fp) ELSE 0 END) AS l1_sub
  FROM expl e
  JOIN clus c ON e.iid = c.iid
  JOIN nthr t ON e.iid = t.iid
  GROUP BY e.iid, c.k, e.cid, e.v1, e.v2, e.v3),
ndis AS MATERIALIZED (
  SELECT iid, cid, count(*) AS ndistinct
  FROM (SELECT DISTINCT iid, cid, v1, v2, v3 FROM expl)
  GROUP BY iid, cid),
-- abnormal elements in descent order (stable-regime argsort: descent
-- DESC, then key DESC from the [::-1] reversal of a stable ascending sort)
elems AS MATERIALIZED (
  SELECT g.*,
         g.n_abn::DOUBLE / greatest(g.n_all::DOUBLE, 1e-4) AS descent,
         row_number() OVER (PARTITION BY g.iid, g.k, g.cid
           ORDER BY g.n_abn::DOUBLE / greatest(g.n_all::DOUBLE, 1e-4) DESC,
                    g.v1 DESC, g.v2 DESC, g.v3 DESC) AS rnk
  FROM gstat g WHERE g.n_abn > 0),
npart AS MATERIALIZED (
  SELECT e.iid, e.k, e.cid, count(*) AS nelem,
         least(least(count(*), 12), max(n.ndistinct) - 1) AS np
  FROM elems e JOIN ndis n ON e.iid = n.iid AND e.cid = n.cid
  GROUP BY e.iid, e.k, e.cid),
-- prefix cumulatives and the per-partition ripple ratio
prefix AS MATERIALIZED (
  SELECT e.iid, e.k, e.cid, e.rnk AS p,
         sum(e.n_sub) OVER wp AS n1,
         sum(e.sv_sub) OVER wp / sum(e.sf_sub) OVER wp AS ratio,
         sum(e.l1_sub) OVER wp AS l1f
  FROM elems e
  WINDOW wp AS (PARTITION BY e.iid, e.k, e.cid ORDER BY e.rnk
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
-- L1(v, f*ratio_p) over prefix subset rows and the direct complement L1,
-- per partition p <= np
pjoin AS MATERIALIZED (
  SELECT pr.iid, pr.k, pr.cid, pr.p, pr.n1, pr.ratio, pr.l1f,
         st.nsub - pr.n1 AS n2,
         coalesce(l1a.s, 0.0) AS l1a,
         coalesce(l1n.s, 0.0) AS l1n
  FROM prefix pr
  JOIN npart np ON pr.iid = np.iid AND pr.k = np.k AND pr.cid = np.cid
  JOIN subtot st ON pr.iid = st.iid AND pr.k = st.k
  LEFT JOIN LATERAL (
    SELECT sum(abs(s.v - s.fp * pr.ratio)) AS s
    FROM subrow s
    WHERE s.iid = pr.iid AND s.k = pr.k AND s.cid = pr.cid AND s.rnk <= pr.p
  ) l1a ON true
  LEFT JOIN LATERAL (
    SELECT sum(abs(s.v - s.fp)) AS s
    FROM subrow s
    WHERE s.iid = pr.iid AND s.k = pr.k AND s.cid = pr.cid AND s.rnk > pr.p
  ) l1n ON true
  WHERE pr.p <= np.np),
score AS MATERIALIZED (
  SELECT *,
         1.0 - (dguard(l1a, n1::DOUBLE) + dguard(l1n, n2::DOUBLE))
             / (dguard(l1f, n1::DOUBLE) + dguard(l1n, n2::DOUBLE)) AS ps
  FROM pjoin),
-- best partition per cuboid: np.argsort(scores)[::-1][0] — NaN first,
-- then score DESC, then the LARGER partition
cubres AS MATERIALIZED (
  SELECT n.iid, n.k, n.cid,
         CASE WHEN n.cid <= 2 THEN 1 WHEN n.cid <= 5 THEN 2 ELSE 3 END AS layer,
         CASE WHEN n.np <= 0 THEN '-infinity'::DOUBLE ELSE b.ps END AS score,
         CASE WHEN n.np <= 0 THEN n.nelem ELSE b.p END AS nele
  FROM npart n
  LEFT JOIN (
    SELECT * FROM (
      SELECT s.*,
             row_number() OVER (PARTITION BY s.iid, s.k, s.cid
               ORDER BY isnan(s.ps) DESC, s.ps DESC, s.p DESC) AS brn
      FROM score s)
    WHERE brn = 1) b
  ON n.iid = b.iid AND n.k = b.k AND n.cid = b.cid),
-- ps_upper_bound early stop: keep layers <= the first layer whose
-- running best score exceeds 0.9 (else all layers)
lcut AS MATERIALIZED (
  SELECT iid, k, min(layer) AS lstop FROM (
    SELECT iid, k, layer,
           max(CASE WHEN isnan(score) THEN '-infinity'::DOUBLE ELSE score END)
             OVER (PARTITION BY iid, k ORDER BY layer) AS runmax
    FROM cubres)
  WHERE runmax > 0.9 GROUP BY iid, k),
-- cluster winner: rank = score*weight - nele*layer; NaN rank loses;
-- stable ties keep (layer, cid) enumeration order
winner AS MATERIALIZED (
  SELECT * FROM (
    SELECT r.iid, r.k, r.cid, r.layer, r.nele, r.score,
           r.score * w.w - r.nele * r.layer AS rank,
           row_number() OVER (PARTITION BY r.iid, r.k
             ORDER BY isnan(r.score * w.w - r.nele * r.layer) ASC,
                      r.score * w.w - r.nele * r.layer DESC,
                      r.layer ASC, r.cid ASC) AS wrn
    FROM cubres r
    JOIN weight w ON r.iid = w.iid
    LEFT JOIN lcut lc ON r.iid = lc.iid AND r.k = lc.k
    WHERE lc.lstop IS NULL OR r.layer <= lc.lstop)
  WHERE wrn = 1),
-- envelope guard (VERDICT r12 #3): the element-descent argsort tie order
-- is replicated only in numpy's stable insertion-sort regime (<= 16
-- abnormal elements per cuboid). Fail loudly at run time if an input
-- leaves the envelope instead of relying on a visible mismatch; the
-- final SELECT cross-joins this one-row CTE so it always evaluates.
envguard AS MATERIALIZED (
  SELECT CASE WHEN max(cnt) > 16 THEN error(
           'squeeze oracle envelope violated: a cuboid has ' || max(cnt)
           || ' abnormal elements (> 16, outside the stable-argsort regime; '
           || 'see gen_squeeze_oracle.py CAVEATS)')
         ELSE coalesce(max(cnt), 0) END AS max_abn_elems
  FROM (SELECT iid, k, cid, count(*) AS cnt FROM elems GROUP BY 1, 2, 3)),
-- root-cause strings: winning prefix elements (degenerate cuboids take
-- every abnormal element), labels '&'-canonical; compound strings join
-- ';' in sorted label order (see generator CAVEATS); set-dedup across
-- clusters == string-dedup on the sorted join
rcstr AS MATERIALIZED (
  SELECT w.iid, w.k,
         list_aggregate(list_sort(list(
           concat_ws('&',
             CASE WHEN e.cid IN (0, 3, 4, 6) THEN 'brand=' || e.v1 END,
             CASE e.cid WHEN 1 THEN 'ls=' || e.v1 WHEN 3 THEN 'ls=' || e.v2
                        WHEN 5 THEN 'ls=' || e.v1 WHEN 6 THEN 'ls=' || e.v2 END,
             CASE e.cid WHEN 2 THEN 'rf=' || e.v1 WHEN 4 THEN 'rf=' || e.v2
                        WHEN 5 THEN 'rf=' || e.v2 WHEN 6 THEN 'rf=' || e.v3 END))),
           'string_agg', ';') AS root_cause
  FROM winner w
  JOIN elems e ON e.iid = w.iid AND e.k = w.k AND e.cid = w.cid AND e.rnk <= w.nele
  GROUP BY w.iid, w.k)"""


def build(batch):
    name = "q48_batch_squeeze" if batch else "q44_squeeze"
    if batch:
        inst = ("inst(iid, abrand, arf) AS (\n"
                "  VALUES ('i1', 'Brand#19', 'R'), ('i2', 'Brand#25', 'A'),"
                " ('i3', 'Brand#31', 'N'))")
    else:
        inst = "inst(iid, abrand, arf) AS (VALUES ('i1', 'Brand#19', 'R'))"
    head = f"""\
-- ---------------------------------------------------------------------
-- {name}: Squeeze (reference algorithms/squeeze/; graft
-- algorithms/Squeeze.scala{" via BatchSqueeze, spec-pinned batch==sequential" if batch else ""})
-- over the anomaly-injected harness snapshot. Stage A replicates the
-- driver-side scalar kernels (KPI-filter KDE + Kneedle, histogram
-- density clustering) as list lambdas with the kernels' sequential
-- summation order; stage B runs the per-cluster cuboid search
-- relationally. See tools/gen_squeeze_oracle.py for the equivalence
-- envelope (argsort stable regime, smoothing window <= 11, compound
-- string order). GENERATED — edit the generator.
"""
    # numpy linear-interpolation percentile over a sorted list (1-based)
    pctl = """\
CREATE OR REPLACE MACRO pctl(a, n, q) AS (
  CASE WHEN n = 1 THEN (a[1])::DOUBLE ELSE
    (a[1 + floor(q / 100.0 * (n - 1))::BIGINT])::DOUBLE
    + (q / 100.0 * (n - 1) - floor(q / 100.0 * (n - 1)))
      * ((a[1 + least(floor(q / 100.0 * (n - 1))::BIGINT + 1, n - 1)])::DOUBLE
         - (a[1 + floor(q / 100.0 * (n - 1))::BIGINT])::DOUBLE)
  END);
CREATE OR REPLACE MACRO dguard(x, y) AS (
  CASE WHEN y > 0 THEN x / y WHEN x = 0 THEN 0.0 ELSE 'infinity'::DOUBLE END);
"""
    expl = " UNION ALL\n".join(tuple_branch(c, a, "rows0") for c, a in ALL)
    subrow = """\
-- subset rows tagged with their element's descent rank (exact tuple)
subrow AS MATERIALIZED (
  SELECT e.iid, c.k, e.cid, e.v1, e.v2, e.v3, e.v, e.fp, el.rnk
  FROM expl e
  JOIN clus c ON e.iid = c.iid
  JOIN nthr t ON e.iid = t.iid
  JOIN elems el ON el.iid = e.iid AND el.k = c.k AND el.cid = e.cid
               AND el.v1 = e.v1 AND el.v2 = e.v2 AND el.v3 = e.v3
  WHERE (e.dev >= c.lo AND e.dev <= c.hi) OR abs(e.dev) < t.thr),"""
    parts = [murmur_block(), pctl, head]
    parts.append(f"""WITH snap AS MATERIALIZED (
  SELECT l_returnflag AS rf, l_linestatus AS ls, p_brand AS brand,
         sum(l_extendedprice) AS vreal
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2, 3),
hash1 AS MATERIALIZED (SELECT rf, ls, brand, vreal, m3_str(rf, 42) AS h FROM snap),
hash2 AS MATERIALIZED (SELECT rf, ls, brand, vreal, m3_str(ls, h) AS h FROM hash1),
{inst},
anom AS MATERIALIZED (
  SELECT iid, rf, ls, brand,
         vreal * CASE WHEN brand = abrand AND rf = arf THEN 2.0 ELSE 1.0 END AS vr,
         vreal * (1.0 + (spark_pmod(m3_i32(m3_str(brand, h)), 1000) / 1000.0 - 0.5) * 0.05) AS vp
  FROM hash2 CROSS JOIN inst),
{STAGE_A},
{STAGE_B_HEAD}
expl AS MATERIALIZED (
{expl}),
{subrow}
{STAGE_B_TAIL}""")
    if batch:
        parts.append("""SELECT DISTINCT iid AS instance_id, root_cause
FROM rcstr CROSS JOIN envguard ORDER BY instance_id, root_cause""")
    else:
        parts.append("""SELECT DISTINCT root_cause FROM rcstr CROSS JOIN envguard
ORDER BY root_cause""")
    return "\n".join(parts) + "\n"


if __name__ == "__main__":
    outdir = sys.argv[1] if len(sys.argv) > 1 else "src/main/resources/graft/oracles"
    for batch in (False, True):
        name = "q48_batch_squeeze" if batch else "q44_squeeze"
        path = f"{outdir}/{name}.sql"
        with open(path, "w") as f:
            f.write(build(name == "q48_batch_squeeze"))
        print("wrote", path)
