package graft.queries

import graft.algorithms.{Adtributor, AutoRoot, BatchAutoRoot, BatchHotSpot, BatchRevRecAdtributor, BatchRiskLoc, BatchRobustSpot, BatchSqueeze, HotSpot, RevRecAdtributor, RiskLoc, RobustSpot, Squeeze}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gate queries that run the full localization algorithms end-to-end on an
  * anomaly-injected leaf snapshot derived from the harness tables. The
  * anomaly (real scaled 2x inside brand=Brand#19 & rf=R) and the
  * deterministic per-leaf forecast noise (murmur3 of the attribute values)
  * are fixed, so results are stable across runs. Since round 12 these
  * queries are oracle-backed by default: full in-SQL DuckDB oracles
  * (re-deriving the murmur3 noise bit-exactly) cover every family except
  * the hotspot/robustspot four (q45/q46/q65/q66), which stay rows-only
  * per ORACLES.md (MT19937 playout order; CPython set-iteration order +
  * NaN-Timsort are load-bearing) and are pinned by committed digests
  * (RowGoldens) plus reference parity at three corpus scales.
  */
object AlgorithmQueries {

  /** Snapshot with a known injected anomaly. predict carries ±2.5%
    * value-hash noise so deviations spread as in real forecasts.
    * Persisted: the localization loops run dozens of actions over this
    * ~150-leaf frame, and the persist makes them hit one materialization
    * instead of re-aggregating lineitem each time. Within a session the
    * cache manager also dedupes by logical plan across queries, but the
    * bench harness calls clearCache() between queries for isolation, so
    * under Bench each gate query re-materializes the snapshot (that cost
    * is part of each query's measured time). */
  def anomalousSnapshot(s: SparkSession, dir: String): DataFrame =
    ScoreQueries.snapshot(s, dir)
      .select(col("rf"), col("ls"), col("brand"),
        (col("vreal") * when(col("brand") === "Brand#19" && col("rf") === "R", 2.0)
          .otherwise(1.0)).as("real"),
        (col("vreal") * (lit(1.0) +
          (pmod(hash(col("rf"), col("ls"), col("brand")), lit(1000)) / 1000.0 - 0.5) * 0.05))
          .as("predict"))
      .persist()

  private val attrs = Seq("brand", "ls", "rf")

  /** A small synthetic corpus: the same harness snapshot with a DIFFERENT
    * injected anomaly per instance, unioned under an instance_id key —
    * the input shape of the whole-corpus Batch* algorithms.
    * Persisted without an explicit unpersist, like [[anomalousSnapshot]]:
    * q47-q49 each build this identical logical plan, and Spark's cache
    * manager dedupes by plan, so all three batch gate queries share one
    * materialization for the life of the session.
    *
    * Round 13 (guide §2.4, remove redundant passes): the BASE snapshot is
    * persisted too, so materializing the 3-instance union reads lineitem
    * ONCE instead of once per union branch — each branch is a narrow
    * projection of the cached ~150-leaf aggregate. Values are unchanged
    * bitwise: every branch reads the same cached rows (same per-leaf
    * vreal sums, same partitioning) that the three identical recomputed
    * subplans produced before. */
  def anomalousCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = ScoreQueries.snapshot(s, dir).persist()
    val instances = Seq(
      ("i1", "Brand#19", "R"), ("i2", "Brand#25", "A"), ("i3", "Brand#31", "N"))
    instances.map { case (id, brand, rf) =>
      base.select(lit(id).as("instance_id"), col("rf"), col("ls"), col("brand"),
        (col("vreal") * when(col("brand") === brand && col("rf") === rf, 2.0)
          .otherwise(1.0)).as("real"),
        (col("vreal") * (lit(1.0) +
          (pmod(hash(col("rf"), col("ls"), col("brand")), lit(1000)) / 1000.0 - 0.5) * 0.05))
          .as("predict"))
    }.reduce(_ unionByName _).persist()
  }

  val defs: Seq[GateQuery] = Seq(

    // Full in-SQL DuckDB oracle (round 12, tools/gen_riskloc_oracle.py):
    // the remove-and-repeat loop is unrolled 4x (exact — a guard-passing
    // iteration with no winner is a fixed point), the sequential cuboid
    // scan becomes a (layer ASC, ep DESC, cid ASC) argmax over
    // risk-passing candidates, and the murmur3 forecast noise is
    // re-derived bit-exactly. Digest pins stay as the second belt
    // (RowGoldens.OracleBackedPins).
    GateQuery("q40_riskloc", GateQuery.oracleResource("q40_riskloc.sql")) { (s, dir) =>
      import s.implicits._
      val rcs = RiskLoc.run(anomalousSnapshot(s, dir), attrs)
      rcs.map(rc => (rc.labels.mkString(";"), rc.layer,
        math.floor(rc.scores("risk") * 1e6) / 1e6))
        .toDF("root_cause", "layer", "risk")
        .orderBy("root_cause")
    },

    // Full in-SQL DuckDB oracle (round 12): the resource re-derives the
    // anomalous snapshot's murmur3 forecast noise bit-exactly (chained
    // Spark hash(rf, ls, brand), seed 42) and mirrors the whole Adtributor
    // pipeline — grouping-set merge, ep/surprise algebra, the per-dimension
    // cumulative-EP cut, top-k — in window SQL. Digest pins stay as the
    // second belt at sf0.001+sf0.01 (RowGoldens.OracleBackedPins).
    GateQuery("q41_adtributor", GateQuery.oracleResource("q41_adtributor.sql")) { (s, dir) =>
      import s.implicits._
      val cands = Adtributor.run(anomalousSnapshot(s, dir), attrs,
        Adtributor.Options(teep = 0.05, tep = 0.1, k = 3))
      cands.map(c => (c.dimension, c.elements.mkString(";"),
        math.floor(c.explanatoryPower * 1e6) / 1e6))
        .toDF("dimension", "elements", "ep")
        .orderBy("dimension")
    },

    // Full in-SQL oracle (round 12): the recursion is unrolled to its
    // maximum depth (3 dims → 3 levels; a level-3 node pins every
    // dimension, so level-2 candidates are always kept), and since the
    // gate output is prediction strings only, the oracle mirrors the
    // candidate-set logic (ep>teep with numpyDiv ±Inf/NaN semantics,
    // strict-subset gate, keep-vs-expand) without needing FP-exact
    // scores. A one-off dual-anomaly probe (since retired) cross-checked
    // it beyond the gate input (teep ∈ {0.001, 0.02, 0.05, 0.3}:
    // 17-prediction, 2-prediction and empty outputs all matched the SQL
    // variant). Digest pins stay as the second belt
    // (RowGoldens.OracleBackedPins).
    GateQuery("q42_revrec_adtributor",
        GateQuery.oracleResource("q42_revrec_adtributor.sql")) { (s, dir) =>
      import s.implicits._
      val preds = RevRecAdtributor.predictions(
        RevRecAdtributor.run(anomalousSnapshot(s, dir), attrs,
          RevRecAdtributor.Options(teep = 0.1)))
      preds.toDF("root_cause").orderBy("root_cause")
    },

    // Full in-SQL DuckDB oracle (round 12, tools/gen_autoroot_oracle.py):
    // silverman gaussian KDE + strict-minima boundaries on the 400-point
    // grid, the set-match NPS selection quirk, per-cluster argmax winners
    // and the subsumption merge, all in window SQL. Digest pins stay as
    // the second belt (RowGoldens.OracleBackedPins).
    GateQuery("q43_autoroot", GateQuery.oracleResource("q43_autoroot.sql")) { (s, dir) =>
      import s.implicits._
      val rcs = AutoRoot.run(anomalousSnapshot(s, dir), attrs,
        AutoRoot.Options(deltaThreshold = 0.1))
      rcs.map(rc => (rc.labels.mkString(";"), rc.layer,
        math.floor(rc.scores("avg") * 1e6) / 1e6))
        .toDF("root_cause", "layer", "avg_score")
        .orderBy("root_cause")
    },

    // Full in-SQL DuckDB oracle (round 12, tools/gen_squeeze_oracle.py):
    // stage A replicates the driver-side scalar kernels (KPI-filter KDE +
    // Kneedle knee, histogram density clustering) as DuckDB list lambdas
    // with the kernels' sequential summation order; stage B runs the
    // per-cluster cuboid search relationally. See the generator header
    // for the equivalence envelope (argsort stable regime, smoothing
    // window <= 11, compound string order). Digest pins stay as the
    // second belt (RowGoldens.OracleBackedPins).
    GateQuery("q44_squeeze", GateQuery.oracleResource("q44_squeeze.sql")) { (s, dir) =>
      import s.implicits._
      Squeeze.run(anomalousSnapshot(s, dir), attrs)
        .toDF("root_cause").orderBy("root_cause")
    },

    GateQuery.rowsOnly("q45_hotspot") { (s, dir) =>
      import s.implicits._
      val cand = HotSpot.run(anomalousSnapshot(s, dir), attrs)
      Seq((cand.elements.map(_.mkString("&")).mkString(";"),
        cand.cuboid.mkString(","), cand.layer,
        math.floor(cand.score * 1e6) / 1e6))
        .toDF("elements", "cuboid", "layer", "score")
    },

    GateQuery.rowsOnly("q46_robustspot") { (s, dir) =>
      import s.implicits._
      // fundamental-measure mode over the same injected snapshot
      val preds = RobustSpot.predictions(
        RobustSpot.run(anomalousSnapshot(s, dir), attrs,
          RobustSpot.Options(k = 3, derived = false)))
      preds.toDF("root_cause").orderBy("root_cause")
    },

    // Per-instance variant of the q40 oracle (same generator —
    // instance_id threaded through every grouping, guard, prune list and
    // removal; BatchRiskLoc is spec-pinned equal to sequential RiskLoc
    // per instance).
    GateQuery("q47_batch_riskloc",
        GateQuery.oracleResource("q47_batch_riskloc.sql")) { (s, dir) =>
      import s.implicits._
      val found = BatchRiskLoc.run(anomalousCorpus(s, dir), "instance_id", attrs)
      found.toSeq.flatMap { case (inst, rcs) =>
        rcs.map(rc => (inst, rc.labels.mkString(";"),
          math.floor(rc.scores("risk") * 1e6) / 1e6))
      }.toDF("instance_id", "root_cause", "risk")
        .orderBy("instance_id", "root_cause")
    },

    // Per-instance variant of the q44 oracle (same generator;
    // BatchSqueeze is spec-pinned equal to sequential Squeeze per
    // instance).
    GateQuery("q48_batch_squeeze",
        GateQuery.oracleResource("q48_batch_squeeze.sql")) { (s, dir) =>
      import s.implicits._
      val found = BatchSqueeze.run(anomalousCorpus(s, dir), "instance_id", attrs)
      found.toSeq.flatMap { case (inst, preds) => preds.map(inst -> _) }
        .toDF("instance_id", "root_cause")
        .orderBy("instance_id", "root_cause")
    },

    // Per-instance variant of the q43 oracle (same generator;
    // BatchAutoRoot is spec-pinned equal to sequential AutoRoot per
    // instance).
    GateQuery("q49_batch_autoroot",
        GateQuery.oracleResource("q49_batch_autoroot.sql")) { (s, dir) =>
      import s.implicits._
      val found = BatchAutoRoot.run(anomalousCorpus(s, dir), "instance_id", attrs,
        AutoRoot.Options(deltaThreshold = 0.1))
      found.toSeq.flatMap { case (inst, rcs) =>
        rcs.map(rc => (inst, rc.labels.mkString(";"),
          math.floor(rc.scores("avg") * 1e6) / 1e6))
      }.toDF("instance_id", "root_cause", "avg_score")
        .orderBy("instance_id", "root_cause")
    },

    GateQuery.rowsOnly("q65_batch_robustspot") { (s, dir) =>
      import s.implicits._
      val found = BatchRobustSpot.predictions(
        BatchRobustSpot.run(anomalousCorpus(s, dir), "instance_id", attrs,
          RobustSpot.Options(k = 3, derived = false)))
      found.toSeq.flatMap { case (inst, preds) => preds.map(inst -> _) }
        .toDF("instance_id", "root_cause")
        .orderBy("instance_id", "root_cause")
    },

    GateQuery.rowsOnly("q66_batch_hotspot") { (s, dir) =>
      import s.implicits._
      val found = BatchHotSpot.run(anomalousCorpus(s, dir), "instance_id", attrs)
      found.toSeq.map { case (inst, c) =>
        (inst, c.elements.map(_.mkString("&")).mkString(";"),
          c.cuboid.mkString(","), c.layer, math.floor(c.score * 1e6) / 1e6)
      }.toDF("instance_id", "elements", "cuboid", "layer", "score")
        .orderBy("instance_id")
    },

    // Per-instance variant of the q42 oracle (recursion unrolled to full
    // depth, instance_id added to every grouping/partition key;
    // BatchRevRecAdtributor is spec-pinned equal per instance).
    GateQuery("q67_batch_revrec",
        GateQuery.oracleResource("q67_batch_revrec.sql")) { (s, dir) =>
      import s.implicits._
      val found = BatchRevRecAdtributor.predictions(
        BatchRevRecAdtributor.run(anomalousCorpus(s, dir), "instance_id", attrs,
          RevRecAdtributor.Options(teep = 0.1)))
      found.toSeq.flatMap { case (inst, preds) => preds.map(inst -> _) }
        .toDF("instance_id", "root_cause")
        .orderBy("instance_id", "root_cause")
    },
  )
}
